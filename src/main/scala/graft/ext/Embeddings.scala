package graft.ext

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Embedding-column aggregation — the vector half of a training-data
  * pipeline that the similarity family (e1–e5) doesn't cover: per-label
  * centroids (the building block of IVF index construction, cluster
  * drift monitoring, and class-prototype evaluation).
  *
  * Scale design: `posexplode` fans each 64-dim vector into 64 (pos, v)
  * rows, then ONE hash aggregation on (label, pos). The ×64 row blowup
  * never reaches the shuffle: partial aggregation collapses each map
  * task's contribution to at most (#labels × 64) sufficient-statistic
  * rows, so the exchange carries O(labels·dims·partitions) rows no
  * matter how many vectors are scanned. Sums are over 1e-6-quantized
  * BIGINTs (portable double rounding, then exact integer addition), so
  * the result is bit-identical across engines AND across shuffle orders
  * — float sums would flap on accumulation order.
  */
object Embeddings {

  val Dims = 64

  /** Product-quantization geometry: M subspaces of SubDim dims each. */
  val PqM = 8
  val SubDim = Dims / PqM

  /** Exact-re-rank candidate budget for e11/e13 (round-12 verdict
    * task 4 — standard FAISS IVFPQ practice): the compressed-domain ADC
    * scan keeps a SHORTLIST per query, and ONLY those rows fetch their
    * stored vectors for an exact-cosine re-rank. The ADC distance
    * decides the shortlist; the exact cosine decides the ANSWER —
    * which is what lifted e11/e13 recall@3 from 0.267 (ADC order
    * alone) to the RecallSpec-pinned floor, at the cost of
    * shortlist·|Q| stored-vector fetches per request instead of zero.
    *
    * The shortlist SCALES WITH THE PROBE WIDTH —
    * [[rerankShortlist]] = RerankPerList·K·nprobe — because a FIXED
    * bound inverts the nprobe dial: extra probed lists flood a fixed
    * shortlist with more approximately-close candidates, evicting true
    * neighbors BEFORE the exact re-rank can see them (measured on the
    * gate corpus: fixed 24-slot shortlist gave recall 0.800 / 0.667 /
    * 0.600 at nprobe 2/4/6 — widening probes LOWERED recall). A
    * constant per-list budget keeps the eviction pressure flat, making
    * recall monotone in nprobe (0.800 / 0.867 / 0.933 measured), which
    * is the property the dial exists to buy. At nprobe=2 the bound is
    * 24 — identical to the round-13 shipped shortlist. */
  val RerankPerList = 4
  def rerankShortlist(nprobe: Int): Int =
    RerankPerList * Similarity.K * nprobe

  /** Trained-arm re-rank depth: shortlist = the probed candidate mass
    * over this divisor (floored at the label-arm formula). Failure
    * attribution at data/sf10 (the miss split, now in tools/Recall,
    * k=56): the coarse probe captured 15/15 true neighbors at every
    * width — but their ADC ranks under the 256-codeword SAMPLED PQ
    * codebook ran 1..1225 of ~14k probed candidates, so the fixed
    * 48-slot shortlist kept only 8/15.
    * The sampled codebook is an honest coarse PRUNER, not a ranker:
    * re-ranking the top quarter of the probed mass (1800 exact cosines
    * per query at sf10 — request-sized) restores the recall the probe
    * already earned, and a Lloyd-TRAINED per-subspace codebook is the
    * documented lever to shrink this divisor's cost if the re-rank
    * fetch ever dominates. */
  val RerankFracDiv = 4

  def trainedShortlist(n: Long, k: Int, nprobe: Int): Long =
    math.max(rerankShortlist(nprobe).toLong,
      math.ceil(nprobe.toDouble * n / (k * RerankFracDiv.toDouble)).toLong)

  // ---- Corpus-sized codebooks (round-15: the IVF-PQ scale arm) ---------
  //
  // The label-representative codebook (10 codewords playing BOTH the
  // coarse-quantizer and PQ roles) is the reference-parity shape and the
  // oracle-friendly gate geometry, but it has a fixed capacity: at 200k
  // vectors the 8x10-codeword ADC distance is too coarse for any
  // shortlist to retain true neighbors (measured recall@3 = 0.13 at
  // data/sf10 vs 0.87 at gate — tools/Recall, round 14). Real IVF-PQ
  // sizes both codebooks with the corpus: coarse k ~ sqrt(n) (FAISS
  // guidance) and PQ codebooks of 256 codewords per subspace (one byte
  // per code). Past [[PqArmMaxRows]] the e11/e13/e14b family DISPATCHES
  // onto corpus-sized codebooks — the SemDedup.LabelArmMaxRows precedent,
  // with the oracle switching arms on the SAME constants so plan and
  // oracle agree at every corpus size:
  //
  //   - coarse: k = min(ceil(sqrt n), [[CoarseKCap]]) centroids, seeded
  //     from the first-k vectors and refined by [[CoarseRounds]] Lloyd
  //     rounds (d2 assignment, 1e-6-quantized integer stats, float32
  //     centroids — every step a shared-double computation both engines
  //     state identically; the engine may exit early ONLY on an exact
  //     integer fixpoint of the stats, the e12/x_pagerank_full contract);
  //   - PQ: [[PqCodebookSize]] codewords per subspace — the first-256
  //     vectors sliced per subspace (a deterministic data sample, the
  //     standard PQ-codebook init; a Lloyd-refined PQ codebook drops in
  //     by the same dispatch if the recall floor ever demands it).
  //
  // Assignment/probe METRIC per arm: the label arm keeps the e3/e5
  // cosine-argmax convention; the trained arm ranks by squared distance
  // (the metric its Lloyd training optimizes), ties by codeword id.
  val PqArmMaxRows = 20000L
  val PqCodebookSize = 256
  val CoarseRounds = 2

  /** Coarse-codebook budget: k·d floats of driver/kernel-reference state
    * (1 MB at the cap) and a k·d-multiply [[graft.functions
    * .NearestCodewords]] loop per assigned row. sqrt(n) stays under this
    * cap through ~16M vectors; past it lists grow beyond sqrt(n)
    * occupancy (recall per probe unchanged, more rows re-ranked per
    * list) and the next rung is a hierarchical coarse quantizer — out of
    * scope until a corpus actually crosses the cap. */
  val CoarseKCap = 4096

  def useTrainedArm(n: Long): Boolean = n > PqArmMaxRows

  /** List-count divisor: k = ceil(sqrt(n) / CoarseKDiv). Recall at a
    * FIXED probe width is governed by the probed fraction nprobe/k, so
    * the divisor is the recall/throughput dial at the default
    * NProbeServe: sqrt(n)/8 keeps nprobe=4 at ~5-10% of the lists
    * through the measured corpora (k=56 at 200k vectors, k=177 at 2M)
    * while per-probe ADC work stays O(sqrt n · CoarseKDiv) codes —
    * measured at data/sf10: k=448 (div 1) gave recall@3 0.53 at
    * nprobe=4 (probe mass 0.9%), k=56 clears the 0.85 floor. */
  val CoarseKDiv = 8

  def coarseK(n: Long): Int =
    math.max(16L, math.min(
      math.ceil(math.sqrt(n.toDouble) / CoarseKDiv).toLong,
      CoarseKCap.toLong)).toInt

  /** Artifact-name tag carrying the codebook-spec identity (the Layout
    * contract: build-logic constants that change an artifact's content
    * belong in its name). Empty on the label arm, so gate artifacts keep
    * their round-14 names. */
  private[graft] def armTag(n: Long): String =
    if (!useTrainedArm(n)) "" else s"_k${coarseK(n)}r${CoarseRounds}q$PqCodebookSize"

  /** Nearest-codeword assignment by squared distance, (d2, cl) ties —
    * ONE [[graft.functions.NearestCodewords]] kernel column (no n·k join,
    * no shuffle, no unrolled literal terms). The codebook MUST be
    * cl-ascending: the kernel's first-min index tie-break then equals the
    * oracle's (d2, cl). Appends `cl` to the input frame. */
  private[graft] def assignNearest(e: DataFrame,
      cb: Array[(Any, Array[Float])]): DataFrame = {
    val cls = cb.map(_._1.asInstanceOf[Number].longValue).toSeq
    val idx = graft.functions.ArrayOps.nearestCodewords(
      col("embedding"), cb.map(_._2), 1)
    e.withColumn("cl", element_at(typedlit(cls), element_at(idx, 1) + 1))
  }

  /** Trained-arm corpus pass — the [[pqPass]] twin over corpus-sized
    * codebooks: ONE projection of two [[graft.functions.NearestCodewords]]
    * kernels emits (vec_id, coarse cluster, PQ code array); kernel indices
    * map to codeword ids through small literal arrays. */
  private[graft] def trainedCodesPass(e: DataFrame, ccb: Array[(Any, Array[Float])],
      pcb: Array[(Any, Array[Float])]): DataFrame = {
    val ccls = ccb.map(_._1.asInstanceOf[Number].longValue).toSeq
    val pcls = pcb.map(_._1.asInstanceOf[Number].longValue).toSeq
    val coarseIdx = graft.functions.ArrayOps.nearestCodewords(
      col("embedding"), ccb.map(_._2), 1)
    val pqIdx = graft.functions.ArrayOps.nearestCodewords(
      col("embedding"), pcb.map(_._2), PqM)
    e.select(col("vec_id"),
      element_at(typedlit(ccls), element_at(coarseIdx, 1) + 1).as("cl"),
      transform(pqIdx, i => element_at(typedlit(pcls), i + 1)).as("codes"))
  }

  /** Lloyd-trained coarse codebook: seed = the first-k vectors (the
    * SemDedup sqrt-k seed), then up to `rounds` assign → re-estimate
    * rounds. Centroid components are CAST(qsum/(1e6·n) AS FLOAT) — one
    * correctly-rounded double division over exact integer stats, then one
    * double→float rounding, so both engines (and any shuffle order)
    * produce bit-identical float32 centroids, which is also what a real
    * index stores. Early exit ONLY on an exact integer fixpoint of the
    * (cl, pos, n, qsum) stats — identical stats ⇒ identical centroids ⇒
    * every further round reproduces the same frame, so the fixed-round
    * oracle chain agrees (the e12 contract). Driver state per round:
    * k·d stat rows + k·d floats — index-header-sized by construction. */
  private[graft] def trainCoarse(e: DataFrame, k: Int,
      rounds: Int = CoarseRounds): Array[(Any, Array[Float])] = {
    def centroidsOf(stats: Array[(Long, Long, Long, Double)]): Array[(Any, Array[Float])] =
      stats.groupBy(_._1).toArray.sortBy(_._1).map { case (cl, rows) =>
        (cl: Any,
          rows.sortBy(_._2).map { case (_, _, n, qsum) =>
            (qsum / (1e6 * n)).toFloat
          })
      }
    var cb: Array[(Any, Array[Float])] = e.where(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0): Any, r.getSeq[Float](1).toArray))
    var prev: Array[(Long, Long, Long, Double)] = null
    var i = 0
    var converged = false
    while (i < rounds && !converged) {
      val stats = kmStats(assignNearest(
          e.select(col("vec_id"), col("embedding")), cb), "cl")
        .collect()
        .map(r => (r.get(0).asInstanceOf[Number].longValue, r.getLong(1),
          r.getLong(2), r.getDouble(3)))
        .sortBy(s => (s._1, s._2))
      if (prev != null && stats.sameElements(prev)) converged = true
      else { cb = centroidsOf(stats); prev = stats }
      i += 1
    }
    cb
  }

  /** The size-dispatched (coarse codebook, PQ codebook, distance-metric?)
    * triple — [[useTrainedArm]] decides the arm, the oracle dispatches on
    * the same constant. */
  private[graft] def codebooks(e: DataFrame,
      n: Long): (Array[(Any, Array[Float])], Array[(Any, Array[Float])], Boolean) =
    if (!useTrainedArm(n)) {
      val cb = codebook(e)
      (cb, cb, false)
    } else (trainCoarse(e, coarseK(n)), pqSampleCodebook(e), true)

  /** The trained arm's PQ codebook: the first [[PqCodebookSize]] vectors,
    * keyed by vec_id — [[subDists]] slices each per subspace, so every
    * subspace gets its own 256-entry codebook drawn from the data
    * distribution. */
  private def pqSampleCodebook(e: DataFrame): Array[(Any, Array[Float])] =
    e.where(col("vec_id") < PqCodebookSize)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0): Any, r.getSeq[Float](1).toArray))

  /** Driver-side fold twins of the plan/oracle arithmetic (index-ascending
    * double adds — identical IEEE results), for the request-sized math the
    * trained arm keeps on the driver: probe selection and ADC LUTs over
    * collected queries and the collected index header. */
  private def d2Driver(q: Array[Float], c: Array[Float], from: Int, len: Int): Double = {
    var vv = 0.0; var vc = 0.0; var cc = 0.0
    var i = 0
    while (i < len) { val x = q(from + i).toDouble; vv += x * x; i += 1 }
    i = 0
    while (i < len) { vc += q(from + i).toDouble * c(from + i).toDouble; i += 1 }
    i = 0
    while (i < len) { val y = c(from + i).toDouble; cc += y * y; i += 1 }
    (vv - 2.0 * vc) + cc
  }

  /** Spark round(x, 0).cast(long) replayed on the driver (HALF_UP over
    * BigDecimal.valueOf — Spark's Round semantics; DuckDB round() is the
    * same half-away-from-zero). */
  private def roundE6(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** nprobe nearest coarse codewords per query by (d2, cl) — driver math
    * over request-sized inputs (the trained arm's probe selection). */
  private[graft] def probeTrained(qs: Seq[(Long, Array[Float])],
      cb: Array[(Any, Array[Float])], nprobe: Int): Seq[(Long, Long)] =
    qs.flatMap { case (qid, q) =>
      cb.map { case (cl, ce) =>
          (cl.asInstanceOf[Number].longValue, d2Driver(q, ce, 0, q.length)) }
        .sortBy { case (cl, d) => (d, cl) }
        .take(nprobe)
        .map { case (cl, _) => (qid, cl) }
    }

  /** The ADC LUT of one query as a PLAIN map value ("m_cl" → quantized
    * d2, the [[lutMap]] convention): with 256·M entries the expression
    * form is a ~2048-term Catalyst tree per query — computing the same
    * folds on the driver ships a literal map instead. */
  private[graft] def lutDriver(q: Array[Float],
      cb: Array[(Any, Array[Float])]): Map[String, Long] =
    (for { m <- 0 until PqM; (cl, ce) <- cb } yield
      s"${m}_$cl" -> roundE6(d2Driver(q, ce, m * SubDim, SubDim))).toMap

  /** Sequential-fold dot product over arrays of ANY numeric element type
    * (mirrors [[Portable.sqlDot]] exactly: per-index double products,
    * index-ascending accumulation). The codegen kernel
    * [[graft.functions.ArrayOps.dotF]] is the float-array fast path; this
    * HOF form exists for the double-array centroid math in e9 where one
    * side is not a float column.
    */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  // ---- Lloyd-iteration building blocks (shared by e9 and e12) ---------

  /** Per-(cluster, pos) sufficient statistics over 1e-6-quantized
    * components: (cl, pos, n, qsum). Exact integer sums — identical
    * across engines and shuffle orders; one hash agg with map-side
    * partials bounding the exchange at O(k·d·partitions) rows. */
  private def kmStats(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).as("cl"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cl"), col("pos").cast("long").as("pos"),
        round(col("v").cast("double") * 1e6, 0).cast("long").as("qv"))
      .groupBy("cl", "pos")
      .agg(count(lit(1)).as("n"), sum(col("qv")).cast("double").as("qsum"))

  /** pos-ordered centroid arrays from the stats frame (array_sort on
    * struct<pos,..> sorts by pos — the x_mixture sorted-fold pattern).
    * Components are qsum/(1e6·n): a single correctly-rounded division
    * over exact integers, so both engines see the same doubles. */
  private def kmCentroids(g: DataFrame): DataFrame =
    g.select(col("cl"),
        struct(col("pos"), (col("qsum") / (lit(1e6) * col("n"))).as("c")).as("pc"))
      .groupBy("cl").agg(
        transform(array_sort(collect_list(col("pc"))), p => p.getField("c")).as("ce"))

  /** Nearest-centroid assignment: centroids broadcast (O(k·d)), distance
    * is per-row math, the (dist², cl) tie-break mirrors the oracle's
    * row_number ORDER BY exactly. */
  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    // ce·ce is a per-centroid CONSTANT: fold it once on the k-row
    // centroid frame instead of interpreted per (row × centroid) cross-
    // join pair (round-16 HOF audit — same IEEE fold, same value, half
    // the per-pair interpreted work; the x·ce cross term stays dotD
    // because ce is double-typed centroid math and casting it to ride
    // the float kernel would change the oracle-mirrored arithmetic).
    val centC = cent.withColumn("cc2", dotD(col("ce"), col("ce")))
    val dist2 = (graft.functions.ArrayOps.dotF(col("embedding"), col("embedding"))
      - lit(2.0) * dotD(col("embedding"), col("ce"))) + col("cc2")
    val wv = Window.partitionBy("vec_id").orderBy(dist2, col("cl"))
    e.crossJoin(broadcast(centC))
      .withColumn("rn", row_number().over(wv))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cl"))
  }

  /** Fixed oracle round count for e12_kmeans_full. The engine loop may
    * exit earlier ONLY on an exact integer fixpoint of the (cl, pos, n,
    * qsum) statistics — identical stats give identical centroids, which
    * give identical assignments, so every further round reproduces the
    * same frame verbatim and engine and oracle agree at every SF
    * regardless of where convergence lands (the x_pagerank_full
    * contract). */
  val KmFullIters = 3

  /** Lloyd's k-means under a convergence probe: init = per-label means
    * (the e6/e9 seed), then assign → re-estimate rounds until the
    * integer-exact statistics reach a fixpoint or `maxIters`.
    *
    * Scale shape: the corpus frame is the ONE data-sized artifact
    * (localCheckpoint — every round cross-joins it against a broadcast
    * k·d centroid frame, so reuse beats re-deriving the scan + spread);
    * per-round state is the k·d-row stats frame; the fixpoint probe is
    * an O(1)-row driver read of a full-outer self-join of two k·d-row
    * frames. Returns (stats, rounds executed, converged?).
    */
  def kmeansConverged(eIn: DataFrame, maxIters: Int): (DataFrame, Int, Boolean) = {
    // lazy checkpoints (round 17): the first round's mismatch probe is
    // the materializing action for e and g; each later round's probe
    // materializes its own g2 — one action per round instead of two
    val e = eIn.localCheckpoint(eager = false)
    var g = kmStats(e, "label").localCheckpoint(eager = false)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val g2 = kmStats(kmAssign(e, kmCentroids(g)), "cl").localCheckpoint(eager = false)
      val prev = g.select(col("cl"), col("pos"),
        col("n").as("pn"), col("qsum").as("pq"))
      val mismatches = g2.join(prev, Seq("cl", "pos"), "full_outer")
        .agg(count(when(!(col("n") <=> col("pn")) || !(col("qsum") <=> col("pq")), 1))
          .as("m"))
        .first().getLong(0)
      g = g2
      iters += 1
      converged = mismatches == 0
    }
    (g, iters, converged)
  }

  /** One DuckDB Lloyd round (assign against cent${i-1}, re-estimate
    * g$i, rebuild cent$i) — the oracle twin of [[kmAssign]]+[[kmStats]]. */
  private def kmIterSql(i: Int): String = {
    val dvv = Portable.sqlDot("e.embedding", "e.embedding")
    val dvc = Portable.sqlDot("e.embedding", "c.ce")
    val dcc = Portable.sqlDot("c.ce", "c.ce")
    s"""a$i AS (SELECT vec_id, embedding, cl FROM (
       |  SELECT e.vec_id, e.embedding, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY (($dvv - 2.0*$dvc) + $dcc), c.cl) AS rn
       |  FROM embeddings e CROSS JOIN cent${i - 1} c) WHERE rn = 1),
       |y$i AS (SELECT cl, i AS pos,
       |        CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
       |        FROM a$i CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
       |g$i AS (SELECT cl, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
       |        FROM y$i GROUP BY 1, 2),
       |cent$i AS (SELECT cl, list(qsum / (1e6 * n) ORDER BY pos) AS ce
       |           FROM g$i GROUP BY cl)""".stripMargin
  }

  /** The deterministic per-label codebook (min-vec_id representative),
    * collected to the driver so e8/e10 can unroll the per-subspace
    * argmin into a single codegen'd projection. O(#labels · Dims)
    * floats — the PQ codebook is driver/broadcast state by design (it
    * is what gets trained); the guard keeps an unexpected label
    * explosion from turning the unrolled expression quadratic.
    */
  private[graft] def codebook(e: DataFrame): Array[(Any, Array[Float])] = {
    val cb = e.withColumn("rn",
        row_number().over(Window.partitionBy("label").orderBy("vec_id")))
      .where(col("rn") === 1)
      .select(col("label").as("cl"), col("embedding").as("ce"))
      .orderBy("cl")
      .collect()
      // label keeps its NATIVE type (int32 in the parquet schema) so the
      // unrolled literals reproduce the exact egress schema the
      // DataFrame codebook produced
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
    // Past ArgminShardSize codewords the unrolled argmin SHARDS across
    // projection layers (see [[pqPass]]) instead of failing — janino's
    // 64 KB method budget is per generated method, and the shard columns
    // land in separate methods. What remains guarded is the driver
    // collect itself: real PQ codebooks are <= 256 codewords per
    // subspace by construction (one byte per code), so a six-figure
    // "codebook" means the label column isn't a trained codebook and
    // the k·d-float driver state would become the actual bottleneck.
    require(cb.length <= 65536,
      s"codebook has ${cb.length} codewords; driver/broadcast codebook " +
        "state is sized for trained PQ codebooks (<= 65536). Re-train " +
        "with fewer centroids — PQ uses <= 256 per subspace.")
    cb
  }

  /** Codewords per unrolled-argmin shard. One codegen'd distance term is
    * emitted per codeword; past ~1024 in ONE method janino's 64 KB
    * bytecode budget blows and WSCG silently falls back to interpreted
    * eval (measured at sf10 — commit 435edbc). [[pqPass]] keeps each
    * shard's argmin in its own projection column (its own generated
    * method) and reduces shards with least() + first-match, so any
    * codebook size up to the [[codebook]] driver bound stays codegen'd.
    */
  val ArgminShardSize = 1024

  /** Query-batch ceiling for the BROADCAST LUT side of e10/e11 (round-7
    * verdict task 6 — the honesty note e4's geometry ladder carries).
    *
    * Each query row carries a k·M-entry integer map (k = codebook size,
    * M = subspaces) at ~48 bytes per entry (string key + long + struct
    * overhead), and e11 replicates it ×nprobe through the probe join. The
    * broadcast stops being the right plan near Spark's default 10 MB
    * autoBroadcastJoinThreshold:
    *
    *   bytes ≈ |Q| · nprobe · k · M · 48
    *   k=20  (this corpus), M=8, nprobe=2:  ~15 KB/query → ~500 queries
    *   k=256 (max real PQ), M=8, nprobe=2: ~200 KB/query → ~40 queries
    *
    * Past the ceiling, remedies in order: (1) BATCH the query set — run
    * the scoring join once per <= ceiling-sized slice and union the
    * top-k results (each batch is an independent broadcast; the corpus
    * scan re-runs per batch, the standard query-throughput vs scan-count
    * trade); (2) drop the broadcast() hint so the LUT side shuffle-hash
    * joins on the cluster key — right once |Q| itself is corpus-like.
    * The guard fails LOUDLY instead of letting a silently oversized
    * broadcast degrade into driver OOM.
    */
  def adcMaxQueryBatch(codebookSize: Int, nprobe: Int = 1): Int = {
    val bytesPerQuery = nprobe.toLong * codebookSize * PqM * 48
    math.max(1, (8L * 1024 * 1024 / bytesPerQuery).toInt)
  }

  private def requireAdcBatch(nQueries: Long, codebookSize: Int, nprobe: Int): Unit =
    require(nQueries <= adcMaxQueryBatch(codebookSize, nprobe),
      s"ADC query batch of $nQueries queries with a $codebookSize-codeword " +
        s"codebook (nprobe=$nprobe) oversizes the broadcast LUT " +
        s"(ceiling ${adcMaxQueryBatch(codebookSize, nprobe)}). Batch the " +
        "query set and union per-batch top-k, or drop the broadcast hint " +
        "so the LUT side shuffles — see adcMaxQueryBatch scaladoc.")

  /** The M distance terms of one subspace: (codeword label, squared
    * distance of the vector's m-th slice to that codeword's m-th
    * slice), with ||c_m||^2 folded on the DRIVER in the same
    * index-ascending double order as the dotF kernel and the oracle's
    * list_reduce — distances stay bit-identical across engines.
    */
  private def subDists(v: Column, m: Int,
      cb: Array[(Any, Array[Float])]): Seq[(Any, Column)] = {
    val vm = slice(v, m * SubDim + 1, SubDim)
    val vv = Portable.dot(vm, vm)
    cb.toIndexedSeq.map { case (cl, ce) =>
      val cm = ce.slice(m * SubDim, (m + 1) * SubDim)
      val cc = cm.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      (cl, (vv - lit(2.0) * Portable.dot(vm, typedlit(cm))) + lit(cc))
    }
  }

  /** (min distance, first codeword attaining it) over one shard's
    * distance terms. The codebook (and every cl-ascending shard of it)
    * makes first-match the (dist2, cl) tie-break; the extremum is
    * bit-identical to one of its inputs, so the equality is exact.
    * least() needs >= 2 children, hence the singleton special case.
    */
  private def argminOf(ds: Seq[(Any, Column)]): (Column, Column) = {
    val dmin = if (ds.length == 1) ds.head._2 else least(ds.map(_._2): _*)
    val code = ds.tail.foldLeft(when(ds.head._2 === dmin, lit(ds.head._1))) {
      case (acc, (cl, d)) => acc.when(d === dmin, lit(cl))
    }
    (dmin, code)
  }

  /** (max cosine, first codeword attaining it) — the coarse-assignment
    * twin of [[argminOf]] ((cos DESC, cl) tie-break). */
  private def argmaxOf(cs: Seq[(Any, Column)]): (Column, Column) = {
    val cmax = if (cs.length == 1) cs.head._2 else greatest(cs.map(_._2): _*)
    val cl = cs.tail.foldLeft(when(cs.head._2 === cmax, lit(cs.head._1))) {
      case (acc, (c, v)) => acc.when(v === cmax, lit(c))
    }
    (cmax, cl)
  }

  private def coarseCosines(v: Column,
      cb: Seq[(Any, Array[Float])]): Seq[(Any, Column)] =
    cb.toIndexedSeq.map { case (cl, ce) => (cl, Portable.cosine(v, typedlit(ce))) }

  /** ONE corpus pass emitting the per-subspace PQ code (plus, on
    * request, its squared error and the coarse IVF assignment), with the
    * unrolled argmin/argmax SHARDED past [[ArgminShardSize]] codewords:
    * each shard's extremum materializes as its own projection column —
    * its own generated method, which is what keeps janino's per-method
    * 64 KB budget intact — and a second projection reduces the shards
    * with least()/greatest() + first-match. Shards are cl-ascending
    * slices, so the first shard attaining the extremum contains the
    * lowest attaining cl and the global (dist2, cl) / (cos DESC, cl)
    * tie-break is preserved exactly (Ext8Spec pins sharded ≡ unsharded).
    * At or below the shard size this degenerates to the single
    * projection e8/e10/e11 always ran — the identical plan.
    */
  private[graft] def pqPass(e: DataFrame, cb: Array[(Any, Array[Float])],
      withErr: Boolean, withAssign: Boolean,
      shardSize: Int = ArgminShardSize): DataFrame = {
    require(shardSize >= 1)
    val shards = cb.grouped(shardSize).toSeq
    if (shards.length == 1) {
      val cols = (0 until PqM).flatMap { m =>
        val (dmin, code) = argminOf(subDists(col("embedding"), m, cb))
        (if (withErr) Seq(dmin.as(s"err$m")) else Nil) :+ code.as(s"code$m")
      }
      val asg =
        if (withAssign) Seq(argmaxOf(coarseCosines(col("embedding"), cb))._2.as("cl"))
        else Nil
      e.select(col("vec_id") +: (asg ++ cols): _*)
    } else {
      val l1cols = (for {
        m <- 0 until PqM; (sh, si) <- shards.zipWithIndex
      } yield {
        val (dmin, code) = argminOf(subDists(col("embedding"), m, sh))
        Seq(dmin.as(s"d${m}_$si"), code.as(s"c${m}_$si"))
      }).flatten
      val a1cols =
        if (withAssign) shards.zipWithIndex.flatMap { case (sh, si) =>
          val (cmax, cl) = argmaxOf(coarseCosines(col("embedding"), sh))
          Seq(cmax.as(s"a_$si"), cl.as(s"acl_$si"))
        } else Nil
      val l1 = e.select(Seq(col("vec_id")) ++ l1cols ++ a1cols: _*)
      val red = (0 until PqM).flatMap { m =>
        val ds = shards.indices.map(si => col(s"d${m}_$si"))
        val cs = shards.indices.map(si => col(s"c${m}_$si"))
        val dmin = least(ds: _*)
        val code = (ds.tail zip cs.tail).foldLeft(when(ds.head === dmin, cs.head)) {
          case (acc, (d, c)) => acc.when(d === dmin, c)
        }
        (if (withErr) Seq(dmin.as(s"err$m")) else Nil) :+ code.as(s"code$m")
      }
      val asgRed =
        if (withAssign) {
          val as = shards.indices.map(si => col(s"a_$si"))
          val cls = shards.indices.map(si => col(s"acl_$si"))
          val cmax = greatest(as: _*)
          Seq((as.tail zip cls.tail).foldLeft(when(as.head === cmax, cls.head)) {
            case (acc, (a, c)) => acc.when(a === cmax, c)
          }.as("cl"))
        } else Nil
      l1.select(col("vec_id") +: (asgRed ++ red): _*)
    }
  }

  // (round 16: the lutMap EXPRESSION form of the ADC lookup table —
  // map_from_entries over k·M struct/dot-product terms per query — is
  // gone: every call site ships [[lutDriver]] maps computed on the
  // driver over the request-sized query rows, identical values by the
  // d2Driver/roundE6 folds. The expression tree charged each invocation
  // ~1 s of driver planning/codegen at sf0.1.)

  /** Exact-integer ADC distance: sum over subspaces of LUT[m][code[m]]. */
  private[graft] def adcSum(codes: Column, lut: Column): Column =
    (0 until PqM).map(m =>
      element_at(lut, concat_ws("_", lit(m), element_at(codes, m + 1))))
      .reduce(_ + _)

  /** PRODUCTION ADC top-k over an ARBITRARY query set — the batching
    * remedy [[adcMaxQueryBatch]] documents, as code. The corpus is
    * PQ-coded once (one codegen'd pass, checkpointed: n·(M+1) longs);
    * queries are assigned contiguous batch ids and each <= batchSize
    * slice runs the e10 broadcast-LUT scoring join independently —
    * queries are mutually independent, so slicing changes no result row.
    * Per batch the codes scan re-runs: the standard query-throughput vs
    * scan-count trade (the alternative past corpus-like |Q| is dropping
    * the broadcast so the LUT side shuffles).
    *
    * The global row_number over qid is a sort of the QUERY side only —
    * small by definition here; a corpus-sized query set belongs in the
    * shuffle-join formulation, not this one.
    *
    * `queries`: (qid, qe) with qe a float embedding array and qid of any
    * orderable type, which `query_id` keeps. Returns
    * (query_id, neighbor_id, rk, adist2_e6), k rows per query, ranked by
    * (adist2_e6, neighbor_id) — identical to e10's contract (Ext8Spec
    * pins adcTopK ≡ e10 on the gate corpus at a forced 2-query batch).
    *
    * `excludeSelf` controls the e10 self-match convention: when the query
    * set IS the corpus (e10's shape) each vector's zero-distance match
    * with itself must be dropped, but for an EXTERNAL query set a qid
    * that merely collides with a corpus vec_id would silently lose a
    * valid neighbor — external callers (and any non-numeric qid) pass excludeSelf = false.
    */
  def adcTopK(e: DataFrame, queriesIn: DataFrame, k: Int,
      batchSize: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    require(!excludeSelf || queriesIn.schema("qid").dataType.isInstanceOf[NumericType],
      "adcTopK: excludeSelf compares qid with vec_id, so it needs a numeric qid; pass excludeSelf = false")
    // PQ codebook dispatched on corpus size (the e11/e13 arm constant):
    // past PqArmMaxRows the 10-codeword label LUT is too coarse for the
    // ADC order to mean anything — see the corpus-sized-codebook note
    val nRows = e.count()
    val cb = if (useTrainedArm(nRows)) pqSampleCodebook(e) else codebook(e)
    val bs = if (batchSize > 0) batchSize else adcMaxQueryBatch(cb.length)
    val codes = pqPass(e, cb, withErr = false, withAssign = false)
      .select(col("vec_id"),
        array((0 until PqM).map(m => col(s"code$m")): _*).as("codes"))
      .localCheckpoint()
    val q = queriesIn
      .withColumn("bi", ((row_number().over(
        Window.orderBy("qid")) - 1) / bs).cast("int"))
      .localCheckpoint()
    val nB = q.agg(coalesce(max("bi"), lit(0)).as("m")).head().getInt(0) + 1
    // the caller's own qid field: query_id keeps its type (string, int, ...)
    val lutSchema = StructType(Seq(q.schema("qid"),
      StructField("lut", MapType(StringType, LongType, valueContainsNull = false))))
    val scored = (0 until nB).map { i =>
      // round 16: per-batch LUTs as DRIVER math shipped as one local
      // relation (the trained-arm lutDriver convention) instead of a
      // k·M-term Catalyst tree per query — the expression form charged
      // every invocation ~1 s of driver planning/codegen at sf0.1. The
      // per-batch collect is bounded by the same adcMaxQueryBatch line
      // that already bounds the broadcast the LUT rows ride in.
      val rows = q.where(col("bi") === i).select(col("qid"), col("qe")).collect()
        .map(r => Row(r.get(0), lutDriver(r.getSeq[Float](1).toArray, cb)))
      val lut = e.sparkSession.createDataFrame(rows.toSeq.asJava, lutSchema)
      val joined = codes.crossJoin(broadcast(lut))
      (if (excludeSelf) joined.where(col("vec_id") =!= col("qid")) else joined)
        .select(col("qid"), col("vec_id"),
          adcSum(col("codes"), col("lut")).as("adist2_e6"))
    }.reduce(_ unionAll _)
    val wr = Window.partitionBy("qid").orderBy(col("adist2_e6"), col("vec_id"))
    scored.withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), col("adist2_e6"))
  }

  /** The oracle's codebook-dispatch CTE block (no WITH keyword): derives
    * BOTH arms' codebooks and picks per corpus size on the SAME constants
    * as [[codebooks]] — `pqcb` (the PQ codebook), `assign` (coarse corpus
    * assignment) and `qprobe` (per-query probed clusters, `nprobe` wide).
    * The label arm ranks by cosine over the label representatives; the
    * trained arm replays the [[trainCoarse]] Lloyd rounds verbatim (seed
    * = first-k vectors, d2 assignment, 1e-6-quantized integer stats,
    * float32 centroids) and ranks by d2. Exactly one arm's WHERE guard
    * holds, so each UNION ALL leg is empty on the other arm. */
  private def coarseDispatchSql(nprobe: Int): String = {
    val cosEC = Portable.sqlCosine("e.embedding", "cw.ce")
    def d2full(v: String, c: String) =
      s"((${Portable.sqlDot(v, v)} - 2.0*${Portable.sqlDot(v, c)}) + " +
        s"${Portable.sqlDot(c, c)})"
    val rounds = (1 to CoarseRounds).map { i =>
      s"""ta$i AS (SELECT vec_id, embedding, cl FROM (
         |    SELECT e.vec_id, e.embedding, c.cl,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${d2full("e.embedding", "c.ce")}, c.cl) AS rn
         |    FROM embeddings e CROSS JOIN tc${i - 1} c) WHERE rn = 1),
         |ty$i AS (SELECT cl, i AS pos,
         |        CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
         |        FROM ta$i CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
         |tg$i AS (SELECT cl, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
         |        FROM ty$i GROUP BY 1, 2),
         |tc$i AS (SELECT cl, list_transform(list(qsum / (1e6 * n) ORDER BY pos),
         |                x -> CAST(x AS FLOAT)) AS ce
         |         FROM tg$i GROUP BY cl)""".stripMargin
    }.mkString(",\n")
    s"""nn AS (SELECT count(*) AS n FROM embeddings),
       |cwl AS (
       |  SELECT cl, ce FROM (
       |    SELECT label AS cl, embedding AS ce,
       |           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
       |    FROM embeddings) WHERE rn = 1
       |    AND (SELECT n FROM nn) <= $PqArmMaxRows),
       |kk AS (SELECT greatest(16, least(CAST(ceil(sqrt(n) / ${CoarseKDiv}.0) AS BIGINT),
       |                               $CoarseKCap)) AS k FROM nn),
       |tc0 AS (SELECT vec_id AS cl, embedding AS ce FROM embeddings
       |        WHERE (SELECT n FROM nn) > $PqArmMaxRows
       |          AND vec_id < (SELECT k FROM kk)),
       |$rounds,
       |pqcb AS (SELECT CAST(cl AS BIGINT) AS cl, ce FROM cwl
       |         UNION ALL
       |         SELECT vec_id AS cl, embedding AS ce FROM embeddings
       |         WHERE (SELECT n FROM nn) > $PqArmMaxRows
       |           AND vec_id < $PqCodebookSize),
       |assign AS (
       |  SELECT vec_id, CAST(cl AS BIGINT) AS cl FROM (
       |    SELECT e.vec_id, cw.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosEC DESC, cw.cl) AS rn
       |    FROM embeddings e CROSS JOIN cwl cw) WHERE rn = 1
       |  UNION ALL
       |  SELECT vec_id, cl FROM (
       |    SELECT e.vec_id, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2full("e.embedding", "c.ce")}, c.cl) AS rn
       |    FROM embeddings e CROSS JOIN tc$CoarseRounds c) WHERE rn = 1),
       |qprobe AS (
       |  SELECT vec_id AS qid, CAST(cl AS BIGINT) AS cl FROM (
       |    SELECT e.vec_id, cw.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosEC DESC, cw.cl) AS rn
       |    FROM embeddings e CROSS JOIN cwl cw
       |    WHERE e.vec_id < ${Similarity.NQueries}) WHERE rn <= $nprobe
       |  UNION ALL
       |  SELECT vec_id AS qid, cl FROM (
       |    SELECT e.vec_id, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d2full("e.embedding", "c.ce")}, c.cl) AS rn
       |    FROM embeddings e CROSS JOIN tc$CoarseRounds c
       |    WHERE e.vec_id < ${Similarity.NQueries}) WHERE rn <= $nprobe)""".stripMargin
  }

  /** Shared oracle of e11 (transient IVF-ADC) and e13 (the same retrieval
    * served from the PERSISTED index): identical semantics by
    * construction, so one SQL adjudicates both — any divergence between
    * the persisted artifact and a fresh coding shows up as an e13-only
    * failure.
    */
  private def ivfAdcOracleSql(nprobe: Int): String = {
    def va(m: Int) = s"(e.embedding)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
    def ca(m: Int) = s"(cw.ce)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
    def qa(m: Int) = s"(q.qe)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
    def d2(m: Int, v: Int => String) =
      s"((${Portable.sqlDot(v(m), v(m))} - 2.0*${Portable.sqlDot(v(m), ca(m))}) + " +
        s"${Portable.sqlDot(ca(m), ca(m))})"
    val pCols = (0 until PqM).map(m => s"${d2(m, va)} AS d$m").mkString(",\n       ")
    val unpivot = (0 until PqM)
      .map(m => s"SELECT vec_id, cl, CAST($m AS BIGINT) AS m, d$m AS dist2 FROM p")
      .mkString("\nUNION ALL ")
    val lutCols = (0 until PqM)
      .map(m => s"CAST(round(${d2(m, qa)} * 1e6, 0) AS BIGINT) AS l$m")
      .mkString(",\n       ")
    val lutUnpivot = (0 until PqM)
      .map(m => s"SELECT qid, cl, CAST($m AS BIGINT) AS m, l$m AS d2q FROM lp")
      .mkString("\nUNION ALL ")
    s"""WITH ${coarseDispatchSql(nprobe)},
       |p AS (SELECT e.vec_id, cw.cl,
       |       $pCols
       |      FROM embeddings e CROSS JOIN pqcb cw),
       |sub AS ($unpivot),
       |codes AS (SELECT vec_id, m, cl AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, cl) AS rn
       |    FROM sub) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |      WHERE vec_id < ${Similarity.NQueries}),
       |lp AS (SELECT q.qid, cw.cl,
       |       $lutCols
       |      FROM q CROSS JOIN pqcb cw),
       |lut AS ($lutUnpivot),
       |a AS (SELECT l.qid, c.vec_id, CAST(sum(l.d2q) AS BIGINT) AS adist2_e6
       |      FROM codes c
       |      JOIN assign av ON av.vec_id = c.vec_id
       |      JOIN qprobe qp ON qp.cl = av.cl
       |      JOIN lut l ON l.qid = qp.qid AND l.m = c.m AND l.cl = c.code
       |      WHERE c.vec_id != l.qid
       |      GROUP BY 1, 2),
       |ac AS (SELECT *, row_number() OVER (PARTITION BY qid
       |         ORDER BY adist2_e6, vec_id) AS ark FROM a),
       |x AS (SELECT ac.qid, ac.vec_id,
       |             ${Portable.sqlCosine("q.qe", "e.embedding")} AS cos
       |      FROM ac
       |      JOIN q ON q.qid = ac.qid
       |      JOIN embeddings e ON e.vec_id = ac.vec_id
       |      WHERE ac.ark <= (SELECT CASE WHEN nn.n <= $PqArmMaxRows
       |             THEN ${rerankShortlist(nprobe)}
       |             ELSE greatest(${rerankShortlist(nprobe)},
       |                  CAST(ceil(($nprobe * nn.n) / (kk.k * ${RerankFracDiv}.0)) AS BIGINT))
       |             END FROM nn, kk)),
       |r2 AS (SELECT *, row_number() OVER (PARTITION BY qid
       |         ORDER BY cos DESC, vec_id) AS rk FROM x)
       |SELECT qid AS query_id, vec_id AS neighbor_id, CAST(rk AS BIGINT) AS rk,
       |       round(cos, 6) AS cos
       |FROM r2 WHERE rk <= ${Similarity.K} ORDER BY query_id, rk""".stripMargin
  }

  /** Buckets for the persisted index artifacts: the codes table buckets
    * on the COARSE CLUSTER key, so the serve-path probe join and any
    * per-cluster maintenance aggregate run exchange-free on it. */
  val IndexBuckets = 16

  private def embFp(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.sources.Layout.sourceFingerprint(s, s"$dir/embeddings.parquet")

  /** The corpus row count, memoized per corpus fingerprint as a 1-row
    * artifact — the index header's size field. The serve path (e13/e14b)
    * dispatches codebook arms on n without re-counting the corpus per
    * request; the count job runs once per fingerprint, at index-build
    * time. */
  private[graft] def corpusN(s: SparkSession, dir: String): Long =
    // round 17: parquet-footer metadata lookup (zero jobs, bit-identical
    // to the count) replaces the 1-row meta artifact + head() job; the
    // value is fingerprint-stable because the file IS the fingerprint
    // input (see Layout.rowCount)
    graft.sources.Layout.rowCount(s, s"$dir/embeddings.parquet")

  /** A codebook as a local-relation frame (cl, ce) — the index header
    * shipped into a plan. */
  private def centDfOf(s: SparkSession, cb: Array[(Any, Array[Float])]): DataFrame = {
    val clType: DataType = cb.head._1 match {
      case _: java.lang.Long => LongType
      case _: java.lang.Integer => IntegerType
      case other => throw new IllegalArgumentException(
        s"unsupported codebook key type: ${other.getClass}")
    }
    val schema = StructType(Seq(
      StructField("cl", clType, nullable = false),
      StructField("ce", ArrayType(FloatType, containsNull = false))))
    s.createDataFrame(
      cb.toSeq.map { case (cl, ce) => Row(cl, ce.toSeq) }.asJava, schema)
  }

  private def collectCb(df: DataFrame): Array[(Any, Array[Float])] =
    df.orderBy("cl").collect().map(r => (r.get(0), r.getSeq[Float](1).toArray))

  /** The persisted IVF-PQ index, built ONCE per corpus fingerprint (the
    * d10/CoPurchase pattern applied to ANN — round-10 task 6): one
    * codegen'd corpus pass emits (vec_id, coarse cluster, PQ codes) and
    * writes it bucketed by cluster. Serving (e13) reads ONLY this table
    * + [[ivfpqCentroids]] — the embeddings table never appears in the
    * serve plan (PlanShapeSpec pins that), which is the point: at 100 TB
    * the raw vectors are cold storage and the index is the hot artifact.
    * Codebooks are sourced from their own artifacts ([[ivfpqCentroids]] /
    * [[ivfpqPqcb]]), so coarse training runs once per fingerprint no
    * matter which index table is demanded first; the arm (and on the
    * trained arm the codebook spec) is part of each artifact's name.
    */
  def ivfpqCodes(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val n = corpusN(s, dir)
    graft.sources.Layout.ensureBucketedArtifact(
      s, s"graft_ivfpq_codes_${embFp(s, dir)}${armTag(n)}", "cl", IndexBuckets) {
      val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
      val ccb = collectCb(ivfpqCentroids(s, dir))
      if (useTrainedArm(n))
        trainedCodesPass(e, ccb, collectCb(ivfpqPqcb(s, dir)))
      else
        pqPass(e, ccb, withErr = false, withAssign = true)
          .select(col("vec_id"), col("cl"),
            array((0 until PqM).map(m => col(s"code$m")): _*).as("codes"))
    }
  }

  /** The persisted PQ codebook of the trained arm ([[PqCodebookSize]]
    * rows — index-header state): serving must never scan the corpus, so
    * the sampled codewords are written once per fingerprint alongside
    * the coarse centroids. On the label arm [[ivfpqCentroids]] plays both
    * roles and this table is never created. */
  def ivfpqPqcb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.ensureBucketedArtifact(
      s, s"graft_ivfpq_pqcb_${embFp(s, dir)}_q$PqCodebookSize", "cl", 4) {
      Portable.spread(Tables.embeddings(s, dir), "vec_id")
        .where(col("vec_id") < PqCodebookSize)
        .select(col("vec_id").as("cl"), col("embedding").as("ce"))
    }

  /** The IVF-FLAT leg of the persisted index (round-11 task 4): the raw
    * vectors materialized INTO the inverted lists — (vec_id, cl,
    * embedding) bucketed by coarse cluster, exactly what FAISS IVF-Flat
    * stores. Built once per corpus fingerprint by joining the coarse
    * assignment already computed for [[ivfpqCodes]] back to the vectors;
    * serving reads ONLY this table (+ centroids), so range search gets
    * EXACT cosines over the probed lists without ever scanning the
    * corpus table. */
  def ivfflatVecs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.sources.Layout.ensureBucketedArtifact(
      s, s"graft_ivfflat_${embFp(s, dir)}${armTag(corpusN(s, dir))}", "cl",
      IndexBuckets) {
      val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
      ivfpqCodes(s, dir).select(col("vec_id"), col("cl"))
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("vec_id"), col("cl"), col("embedding"))
    }

  /** e14b oracle: re-derives the coarse quantizer from the raw vectors
    * (the e13 convention — a stale or corrupt artifact is a hash
    * mismatch), probes [[Similarity.NProbe]] clusters per query, then
    * EXACT cosine + radius inside the probed lists. */
  private def rangeIndexOracleSql: String = {
    s"""WITH ${coarseDispatchSql(Similarity.NProbe)},
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |      WHERE vec_id < ${Similarity.NQueries}),
       |scored AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
       |                  ${Portable.sqlCosine("q.qe", "c.embedding")} AS cos
       |           FROM q
       |           JOIN qprobe qp ON qp.qid = q.qid
       |           JOIN assign av ON av.cl = qp.cl
       |           JOIN embeddings c ON c.vec_id = av.vec_id AND c.vec_id != q.qid)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cos
       |FROM scored WHERE cos >= ${Similarity.RangeRadius}
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** The index's coarse-quantizer centroids (cl, ce) — the "index
    * header": k·d floats, read to the driver at serve time exactly like
    * a loaded FAISS index. Label representatives below [[PqArmMaxRows]];
    * the [[trainCoarse]] Lloyd centroids above it (the arm and codebook
    * spec are part of the table name). */
  def ivfpqCentroids(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val n = corpusN(s, dir)
    graft.sources.Layout.ensureBucketedArtifact(
      s, s"graft_ivfpq_cent_${embFp(s, dir)}${armTag(n)}", "cl", 4) {
      if (useTrainedArm(n))
        centDfOf(s, trainCoarse(
          Portable.spread(Tables.embeddings(s, dir), "vec_id"), coarseK(n)))
      else
        Portable.spread(Tables.embeddings(s, dir), "vec_id")
          .withColumn("rn",
            row_number().over(Window.partitionBy("label").orderBy("vec_id")))
          .where(col("rn") === 1)
          .select(col("label").as("cl"), col("embedding").as("ce"))
    }
  }

  /** e11's transient IVF-ADC retrieval plan, with the probe width
    * injectable so RecallSpec can measure the recall-vs-nprobe curve on
    * one code path (round-13 verdict task 3). The shipped default is
    * [[Similarity.NProbeServe]] — the oracle derives with the SAME
    * constant, so plan and oracle agree at every width. */
  /** Per-query exact-cosine top-K + egress formatting (shared tail of the
    * e11/e13 retrieval plans). Input: (qid, vec_id, cos). */
  private def topKOut(x: DataFrame): DataFrame = {
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    x.withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= Similarity.K)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), graft.Q.r6(col("cos")).as("cos"))
      .transform(d => graft.Q.sorted(d, "query_id", "rk"))
  }

  /** Trained-arm ADC scoring + shortlist over a (vec_id, cl, codes)
    * frame: probe selection and the per-query LUTs are driver math over
    * request-sized inputs ([[probeTrained]]/[[lutDriver]]), shipped as ONE
    * small local relation — so the plan carries literal maps instead of
    * 256·M-term expression trees. The cluster-equality join prunes each
    * codes row to its own cluster's probes; the per-list shortlist keeps
    * the exact re-rank request-sized. Returns (qid, cand_id, bcl). */
  private def adcShortlistTrained(s: SparkSession, codes: DataFrame,
      qRows: Seq[(Long, Array[Float])], ccb: Array[(Any, Array[Float])],
      pcb: Array[(Any, Array[Float])], nprobe: Int, n: Long): DataFrame = {
    import s.implicits._
    requireAdcBatch(qRows.size.toLong, pcb.length, nprobe)
    val luts = qRows.map { case (qid, q) => qid -> lutDriver(q, pcb) }.toMap
    val qps = probeTrained(qRows, ccb, nprobe)
      .map { case (qid, ccl) => (qid, ccl, luts(qid)) }
      .toDF("qid", "ccl", "lut")
    val a = codes.join(broadcast(qps),
        col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cl").as("bcl"),
        adcSum(col("codes"), col("lut")).as("adist2_e6"))
    val wa = Window.partitionBy("qid").orderBy(col("adist2_e6"), col("vec_id"))
    a.withColumn("ark", row_number().over(wa))
      .where(col("ark") <= trainedShortlist(n, coarseK(n), nprobe))
      .select(col("qid"), col("vec_id").as("cand_id"), col("bcl"))
  }

  /** e11's trained arm: corpus-sized codebooks, one codegen'd corpus pass
    * for (cluster, codes), driver-side probe/LUT, exact re-rank of the
    * shortlist against the corpus via a broadcast of the request-sized
    * candidate set. */
  private def ivfAdcPlanTrained(s: SparkSession, e: DataFrame, n: Long,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val (ccb, pcb, _) = codebooks(e, n)
    // lazy (round 17): single consumer — the ADC join's stage computes
    // the coding pass once; the LogicalRDD plan barrier is unchanged
    val codes = trainedCodesPass(e, ccb, pcb).localCheckpoint(eager = false)
    val qRows = e.where(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val cand = adcShortlistTrained(s, codes, qRows, ccb, pcb, nprobe, n)
    val q = qRows.toDF("qid", "qe")
    val candQ = cand.select(col("qid"), col("cand_id").as("vec_id")).join(q, "qid")
    topKOut(e.select(col("vec_id"), col("embedding"))
      .join(broadcast(candQ), "vec_id")
      .select(col("qid"), col("vec_id"),
        Portable.cosine(col("qe"), col("embedding")).as("cos")))
  }

  private[graft] def ivfAdcPlan(s: SparkSession, dir: String,
      nprobe: Int = Similarity.NProbeServe): DataFrame = {
    import Portable._
    val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
    // footer-metadata arm dispatch (round 17): the count job here also
    // paid the spread's repartition before a single useful stage ran
    val n = graft.sources.Layout.rowCount(s, s"$dir/embeddings.parquet")
    if (useTrainedArm(n)) return ivfAdcPlanTrained(s, e, n, nprobe)
    val cb = codebook(e)
    // coarse assignment unrolled into the SAME projection as the PQ
    // coder (pqPass withAssign: greatest() of the k cosines, first
    // codeword matching — the cl-ascending codebook makes
    // first-match the (cos DESC, cl) tie-break of the oracle's
    // row_number; sharded past ArgminShardSize). One corpus pass
    // emits (vec_id, cluster, codes); the checkpoint is the same
    // CollapseProject barrier e10 needs (n·(M+2) small values).
    val codes = pqPass(e, cb, withErr = false, withAssign = true)
      .select(col("vec_id"), col("cl"),
        array((0 until PqM).map(m => col(s"code$m")): _*).as("codes"))
      // lazy (round 17): single consumer (the probe join) computes the
      // coding pass once; the CollapseProject barrier (LogicalRDD) is
      // identical to the eager form
      .localCheckpoint(eager = false)
    // query side is NQueries rows: the window-over-crossJoin probe
    // selection is driver-trivial and broadcast downstream
    val centDf = e.withColumn("rn",
        row_number().over(Window.partitionBy("label").orderBy("vec_id")))
      .where(col("rn") === 1)
      .select(col("label").as("ccl"), col("embedding").as("ce"))
    val qe = e.where(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val qprobe = qe.crossJoin(broadcast(centDf))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(Portable.cosine(col("qe"), col("ce")).desc, col("ccl"))))
      .where(col("rn") <= nprobe)
      .select(col("qid"), col("ccl"))
    // round 16: driver LUTs (lutDriver, the trained-arm convention)
    // instead of a k·M-term lutMap expression tree per query — same
    // bounded request-sized collect the trained arm already does
    import s.implicits._
    val lutPerQ = qe.as[(Long, Array[Float])].collect().toSeq
      .map { case (qid, qv) => (qid, lutDriver(qv, cb)) }
      .toDF("qid", "lut")
    // (qid, probed cluster, LUT map): queries×nprobe rows, broadcast;
    // the cluster-equality join prunes each corpus row to its own
    // cluster's probes before any ADC math or re-keying happens.
    // The batch guard bounds the replicated-LUT broadcast size —
    // past it, batch the queries (see adcMaxQueryBatch)
    requireAdcBatch(Similarity.NQueries, cb.length, nprobe)
    val qps = qprobe.join(lutPerQ, "qid")
    val a = codes.join(broadcast(qps),
        col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcSum(col("codes"), col("lut")).as("adist2_e6"))
    // compressed-domain SHORTLIST: rerankShortlist(nprobe) ADC candidates per
    // query — the bounded window that keeps the stored-vector fetch
    // request-sized
    val wa = Window.partitionBy("qid").orderBy(col("adist2_e6"), col("vec_id"))
    val cand = a.withColumn("ark", row_number().over(wa))
      .where(col("ark") <= rerankShortlist(nprobe))
      .select(col("qid"), col("vec_id"))
    // exact re-rank (round-12 task 4): only the shortlist fetches
    // its raw vectors; candidates+query-vectors are request-sized,
    // so they BROADCAST onto the corpus scan — the corpus never
    // re-keys, and the final top-K window runs on |Q|·shortlist rows
    val candQ = cand.join(qe, "qid")
    val x = e.select(col("vec_id"), col("embedding"))
      .join(broadcast(candQ), "vec_id")
      .select(col("qid"), col("vec_id"),
        Portable.cosine(col("qe"), col("embedding")).as("cos"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    x.withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= Similarity.K)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), graft.Q.r6(col("cos")).as("cos"))
      .transform(d => graft.Q.sorted(d, "query_id", "rk"))
  }

  /** e13's index-served retrieval plan (e11 over the persisted bucketed
    * artifacts), probe width injectable — see [[ivfAdcPlan]]. */
  private[graft] def indexServePlan(s: SparkSession, dir: String,
      nprobe: Int = Similarity.NProbeServe): DataFrame = {
    import Portable._
    val n = corpusN(s, dir)
    val cent = ivfpqCentroids(s, dir)
    val codes = ivfpqCodes(s, dir)
    // index header -> driver (k·d floats), like loading a FAISS index
    val cb = collectCb(cent)
    // the query vectors are REQUEST INPUT in this shape — read once
    // outside the plan and shipped as a local relation (5 rows); the
    // serve plan itself never touches the corpus table
    import s.implicits._
    val qRows = Portable.spread(Tables.embeddings(s, dir), "vec_id")
      .where(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val q = qRows.toDF("qid", "qe")
    if (useTrainedArm(n)) {
      // trained arm: probe + LUT are driver math over the loaded header
      // (probeTrained/lutDriver — the oracle's d2 folds verbatim); the
      // probed-cluster set prunes BOTH bucketed scans (codes and the
      // IVF-FLAT lists) before any join runs
      val pcb = collectCb(ivfpqPqcb(s, dir))
      val probedCls = probeTrained(qRows.sortBy(_._1), cb, nprobe)
        .map(_._2).distinct
      val pruned = codes.where(col("cl").isin(probedCls: _*))
      val cand = adcShortlistTrained(s, pruned, qRows.sortBy(_._1), cb, pcb, nprobe, n)
      val vecs = ivfflatVecs(s, dir)
      val candQ = cand.join(q, "qid")
      return topKOut(vecs.where(col("cl").isin(probedCls: _*))
        .join(candQ.hint("SHUFFLE_HASH"),
          col("cl") === col("bcl") && col("vec_id") === col("cand_id"))
        .select(col("qid"), col("vec_id"),
          Portable.cosine(col("qe"), col("embedding")).as("cos")))
    }
    val qprobe = q.crossJoin(broadcast(cent.select(col("cl").as("ccl"), col("ce"))))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(Portable.cosine(col("qe"), col("ce")).desc, col("ccl"))))
      .where(col("rn") <= nprobe)
      .select(col("qid"), col("ccl"))
    requireAdcBatch(qRows.size.toLong, cb.length, nprobe)
    // round 16: driver LUTs over the already-collected request rows
    // (lutDriver) instead of a k·M-term lutMap expression tree
    val lutQ = qRows.map { case (qid, qv) => (qid, lutDriver(qv, cb)) }
      .toDF("qid", "lut")
    val qps = qprobe.join(lutQ, "qid")
    // bucket pruning via the collected probe set (the e14b move):
    // the codes scan skips buckets holding no probed cluster
    val probedCls = qprobe.select(col("ccl")).distinct().collect().map(_.get(0))
    val a = codes.where(col("cl").isin(probedCls.toSeq: _*))
      .join(broadcast(qps),
        col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cl").as("bcl"),
        adcSum(col("codes"), col("lut")).as("adist2_e6"))
    // shortlist: rerankShortlist(nprobe) ADC candidates per query, KEEPING the
    // coarse cluster — the re-rank fetch below joins the IVF-FLAT
    // lists on their bucket key, so it inherits the same
    // probed-bucket pruning as the codes scan
    val wa = Window.partitionBy("qid").orderBy(col("adist2_e6"), col("vec_id"))
    val cand = a.withColumn("ark", row_number().over(wa))
      .where(col("ark") <= rerankShortlist(nprobe))
      .select(col("qid"), col("vec_id").as("cand_id"), col("bcl"))
    // exact re-rank from the STORED vectors (graft_ivfflat — the
    // artifact, never the corpus): request-sized candidate set,
    // SHUFFLE_HASH hint for the e14b reason (a broadcast join
    // demands no distribution and Spark 4.1 then drops the bucketed
    // scan WITH its pruning)
    val vecs = ivfflatVecs(s, dir)
    val candQ = cand.join(q, "qid")
    val x = vecs.where(col("cl").isin(probedCls.toSeq: _*))
      .join(candQ.hint("SHUFFLE_HASH"),
        col("cl") === col("bcl") && col("vec_id") === col("cand_id"))
      .select(col("qid"), col("vec_id"),
        Portable.cosine(col("qe"), col("embedding")).as("cos"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    x.withColumn("rk", row_number().over(wr).cast("long"))
      .where(col("rk") <= Similarity.K)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), graft.Q.r6(col("cos")).as("cos"))
      .transform(d => graft.Q.sorted(d, "query_id", "rk"))
  }

  def queries: Seq[Q] = Seq(
    Q("e6_centroids",
      s"""WITH x AS (
         |  SELECT label, i AS pos,
         |         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
         |g AS (SELECT label, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
         |      FROM x GROUP BY 1, 2)
         |SELECT label, pos, n, round(qsum / (1e6 * n), 6) AS centroid
         |FROM g ORDER BY label, pos""".stripMargin) {
      (s, dir) => {
        val x = Portable.spread(Tables.embeddings(s, dir), "vec_id")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("label"), col("pos").cast("long").as("pos"),
            round(col("v").cast("double") * 1e6, 0).cast("long").as("qv"))
        val g = x.groupBy("label", "pos")
          .agg(count(lit(1)).as("n"), sum(col("qv")).cast("double").as("qsum"))
        g.select(col("label"), col("pos"), col("n"),
            graft.Q.r6(col("qsum") / (lit(1e6) * col("n"))).as("centroid"))
          .transform(d => graft.Q.sorted(d, "label", "pos"))
      }
    },

    // e7: symmetric int8 scalar quantization — the 4x memory compression
    // step before an ANN index is built (float32 -> int8 at a per-vector
    // scale). Per-row Column algebra, no shuffle; the quantized digest
    // columns (sum/min/max over exact integers) pin the full codes
    // cross-engine without emitting a 64-element array per row. The
    // amax=0 guard keeps all-zero vectors at code 0 instead of NaN.
    Q("e7_quantize_int8",
      """WITH q AS (
        |  SELECT vec_id,
        |         list_max(list_transform(embedding,
        |                  x -> abs(CAST(x AS DOUBLE)))) AS amax,
        |         embedding
        |  FROM embeddings),
        |c AS (SELECT vec_id, amax,
        |             list_transform(embedding, x -> CASE WHEN amax = 0 THEN 0
        |               ELSE CAST(round(CAST(x AS DOUBLE) / amax * 127, 0) AS BIGINT)
        |               END) AS codes
        |      FROM q)
        |SELECT vec_id, round(amax / 127, 6) AS scale,
        |       CAST(list_sum(codes) AS BIGINT) AS qsum,
        |       CAST(list_min(codes) AS BIGINT) AS qmin,
        |       CAST(list_max(codes) AS BIGINT) AS qmax
        |FROM c ORDER BY vec_id""".stripMargin) {
      (s, dir) => {
        val amax = array_max(transform(col("embedding"),
          x => abs(x.cast("double"))))
        val codes = transform(col("embedding"),
          x => when(col("amax") === 0, lit(0L))
            .otherwise(round(x.cast("double") / col("amax") * 127, 0).cast("long")))
        Portable.spread(Tables.embeddings(s, dir), "vec_id")
          .select(col("vec_id"), col("embedding"), amax.as("amax"))
          .select(col("vec_id"), col("amax"), codes.as("codes"))
          .select(col("vec_id"),
            graft.Q.r6(col("amax") / 127).as("scale"),
            aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("qsum"),
            array_min(col("codes")).as("qmin"),
            array_max(col("codes")).as("qmax"))
          .transform(d => graft.Q.sorted(d, "vec_id"))
      }
    },

    // e8: product quantization — the index-compression step behind every
    // billion-vector ANN deployment (IVF-PQ): the 64-dim vector splits
    // into M=8 subvectors, each encoded as its nearest codeword id, so a
    // 256-byte float vector becomes M small codes. The codebook here is
    // the deterministic per-label representative (min vec_id per label,
    // the e3 centroid convention) — k-means-trained codebooks drop in
    // without changing the plan.
    //
    // Scale: codebook is O(k) rows and broadcast; per-vector work is M*k
    // slice-dot kernels (codegen, no shuffle); the argmin is a bounded
    // window on (vec_id, m). Distances are (d(v,v) - 2*d(v,c)) + d(c,c)
    // with every dot a sequential fold — bit-identical cross-engine, ties
    // broken by codeword id.
    Q("e8_pq", {
      def va(m: Int) = s"(e.embedding)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      def ca(m: Int) = s"(cw.ce)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      def d2(m: Int) =
        s"((${Portable.sqlDot(va(m), va(m))} - 2.0*${Portable.sqlDot(va(m), ca(m))}) + " +
          s"${Portable.sqlDot(ca(m), ca(m))})"
      val pCols = (0 until PqM).map(m => s"${d2(m)} AS d$m").mkString(",\n       ")
      val unpivot = (0 until PqM)
        .map(m => s"SELECT vec_id, cl, CAST($m AS BIGINT) AS m, d$m AS dist2 FROM p")
        .mkString("\nUNION ALL ")
      s"""WITH cw AS (
         |  SELECT label AS cl, embedding AS ce FROM (
         |    SELECT label, embedding,
         |           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |p AS (SELECT e.vec_id, cw.cl,
         |       $pCols
         |      FROM embeddings e CROSS JOIN cw),
         |sub AS ($unpivot),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, cl) AS rn
         |      FROM sub)
         |SELECT vec_id, m, cl AS code, round(dist2, 6) AS err2
         |FROM r WHERE rn = 1 ORDER BY vec_id, m""".stripMargin
    }) {
      (s, dir) => {
        import Portable._
        val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
        // The codebook is O(#labels) rows — collect it and UNROLL the
        // per-subspace argmin into the row expression: for each m,
        // least(struct(dist2_to_cw0, cl0), ..., struct(dist2_to_cwk, clk))
        // — struct ordering is the (dist2, codeword-id) tie-break. The
        // whole query becomes ONE codegen'd scan projection with zero
        // joins, zero explode and zero shuffle; the n·k·M-row
        // crossJoin+explode+aggregate it replaces (the PQ-coding shape
        // both the window and min(struct) variants shared) measured
        // ~70 s at sf10 on memory traffic alone. The collect is the
        // codebook-training driver step every PQ deployment has — k·d
        // floats, independent of corpus size. ||c_m||² folds on the
        // driver in the same index-ascending double order as the dotF
        // kernel and the oracle's list_reduce, so distances stay
        // bit-identical.
        val cb: Array[(Any, Array[Float])] = codebook(e)
        // Two-step shape, for CODEGEN reasons: the heavy unrolled
        // distance math lives in a ProjectExec (which gets
        // subexpression elimination and per-column method splitting),
        // and the posexplode above it only touches plain attribute
        // references. Inlining the unrolled tree into the Generate
        // stage put everything in one un-splittable doConsume method
        // and blew janino's 64 KB limit (codegen_errors=6, interpreted
        // fallback). The argmin itself is primitive-only (least +
        // first-match — see pqPass, which also shards codebooks past
        // ArgminShardSize across projection layers).
        val scored = pqPass(e, cb, withErr = true, withAssign = false)
        graft.Q.norm(
          scored.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
              struct(col(s"code$m").as("code"), col(s"err$m").as("err2"))): _*))
              .as(Seq("m", "best")))
            .select(col("vec_id"), col("m").cast("long").as("m"),
              col("best.code").as("code"), col("best.err2").as("err2")),
          "vec_id", "m")
      }
    },

    // e9: one exact Lloyd (k-means) iteration — assign every vector to
    // its nearest e6-style centroid, then recompute the per-(cluster,
    // pos) quantized means. k-means over embeddings IS the training loop
    // of IVF/PQ codebooks; this demonstrates the distributed shape of one
    // step: centroids broadcast (O(k·d)), assignment is per-row math with
    // no shuffle, the re-estimation is one hash agg whose partial
    // aggregation bounds the exchange at O(k·d·partitions) rows.
    //
    // Cross-engine exactness: centroid components are qsum/(1e6·n) —
    // single correctly-rounded division over exact integers; distances
    // are sequential folds; sums of 1e-6-quantized BIGINTs are exact
    // integer math, so the output is identical across engines AND
    // shuffle orders.
    Q("e9_kmeans_step", {
      val dvv = Portable.sqlDot("e.embedding", "e.embedding")
      val dvc = Portable.sqlDot("e.embedding", "c.ce")
      val dcc = Portable.sqlDot("c.ce", "c.ce")
      s"""WITH x AS (
         |  SELECT label, i AS pos,
         |         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
         |g0 AS (SELECT label, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
         |       FROM x GROUP BY 1, 2),
         |cent AS (SELECT label AS cl, list(qsum / (1e6 * n) ORDER BY pos) AS ce
         |         FROM g0 GROUP BY label),
         |a AS (SELECT vec_id, embedding, cl, rn FROM (
         |        SELECT e.vec_id, e.embedding, c.cl,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY (($dvv - 2.0*$dvc) + $dcc), c.cl) AS rn
         |        FROM embeddings e CROSS JOIN cent c)),
         |asn AS (SELECT vec_id, embedding, cl FROM a WHERE rn = 1),
         |y AS (SELECT cl, i AS pos,
         |             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
         |      FROM asn CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
         |g AS (SELECT cl, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
         |      FROM y GROUP BY 1, 2)
         |SELECT cl AS cluster, pos, n, round(qsum / (1e6 * n), 6) AS centroid
         |FROM g ORDER BY cluster, pos""".stripMargin
    }) {
      (s, dir) => {
        val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
        // one assign + re-estimate round over the per-label seed, via
        // the shared Lloyd blocks (e12 iterates the identical round)
        val g = kmStats(kmAssign(e, kmCentroids(kmStats(e, "label"))), "cl")
        g.select(col("cl").as("cluster"), col("pos"), col("n"),
            graft.Q.r6(col("qsum") / (lit(1e6) * col("n"))).as("centroid"))
          .transform(d => graft.Q.sorted(d, "cluster", "pos"))
      }
    },

    // e10: PQ asymmetric-distance (ADC) top-k — the QUERY side of a PQ
    // index, completing the e8 (codes) / e9 (codebook training) story.
    // Per query: an M×k lookup table of query-to-codeword subspace
    // distances (tiny — broadcast); per database vector: its M codes
    // (at scale these are STORED by the e8 indexing pass — M bytes per
    // vector, the only thing the scan reads; the vectors themselves
    // never leave the index build). Approximate distance = sum over
    // subspaces of LUT[m][code[m]].
    //
    // Cross-engine exactness: LUT entries are 1e-6-quantized BIGINTs
    // (shared-double round, the e7/e9 convention), so the per-vector sum
    // is exact integer math — identical across engines and shuffle
    // orders — and the top-k order (adist2_e6, neighbor_id) is total.
    // Scale: codes⋈LUT is a broadcast join, the (query, vector) sum is
    // one hash agg with map-side partials (exchange ~ |Q|·n rows of
    // longs), top-k is the bounded per-query window.
    Q("e10_adc", {
      def va(m: Int) = s"(e.embedding)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      def ca(m: Int) = s"(cw.ce)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      def qa(m: Int) = s"(q.qe)[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      def d2(m: Int, v: Int => String) =
        s"((${Portable.sqlDot(v(m), v(m))} - 2.0*${Portable.sqlDot(v(m), ca(m))}) + " +
          s"${Portable.sqlDot(ca(m), ca(m))})"
      val pCols = (0 until PqM).map(m => s"${d2(m, va)} AS d$m").mkString(",\n       ")
      val unpivot = (0 until PqM)
        .map(m => s"SELECT vec_id, cl, CAST($m AS BIGINT) AS m, d$m AS dist2 FROM p")
        .mkString("\nUNION ALL ")
      val lutCols = (0 until PqM)
        .map(m => s"CAST(round(${d2(m, qa)} * 1e6, 0) AS BIGINT) AS l$m")
        .mkString(",\n       ")
      val lutUnpivot = (0 until PqM)
        .map(m => s"SELECT qid, cl, CAST($m AS BIGINT) AS m, l$m AS d2q FROM lp")
        .mkString("\nUNION ALL ")
      s"""WITH cw AS (
         |  SELECT label AS cl, embedding AS ce FROM (
         |    SELECT label, embedding,
         |           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |p AS (SELECT e.vec_id, cw.cl,
         |       $pCols
         |      FROM embeddings e CROSS JOIN cw),
         |sub AS ($unpivot),
         |codes AS (SELECT vec_id, m, cl AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, cl) AS rn
         |    FROM sub) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < ${Similarity.NQueries}),
         |lp AS (SELECT q.qid, cw.cl,
         |       $lutCols
         |      FROM q CROSS JOIN cw),
         |lut AS ($lutUnpivot),
         |a AS (SELECT l.qid, c.vec_id, CAST(sum(l.d2q) AS BIGINT) AS adist2_e6
         |      FROM codes c JOIN lut l ON l.m = c.m AND l.cl = c.code
         |      WHERE c.vec_id != l.qid
         |      GROUP BY 1, 2),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY qid
         |         ORDER BY adist2_e6, vec_id) AS rk FROM a)
         |SELECT qid AS query_id, vec_id AS neighbor_id, CAST(rk AS BIGINT) AS rk,
         |       adist2_e6
         |FROM r2 WHERE rk <= ${Similarity.K} ORDER BY query_id, rk""".stripMargin
    }) {
      (s, dir) => {
        import Portable._
        val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
        // same unrolled-codebook shape as e8 (pqPass: primitive-only
        // argmin, sharded past ArgminShardSize): PQ codes come out of
        // one codegen'd scan projection as an M-array per vector — no
        // crossJoin, no explode, no argmin shuffle
        val cb = codebook(e)
        // the eager materialization barrier matters: without it,
        // CollapseProject inlines the `codes` alias into every one of
        // the M element_at references below, re-evaluating the whole
        // unrolled-argmin tree M times per scored row (measured: the
        // ADC stage ran at the cost of the full coding pass per
        // reference). The checkpointed (vec_id, codes) frame is
        // n·(M+1) longs — tiny — and the coding pass runs exactly once.
        val codes = pqPass(e, cb, withErr = false, withAssign = false)
          .select(col("vec_id"),
            array((0 until PqM).map(m => col(s"code$m")): _*).as("codes"))
          // lazy (round 17): single consumer (the ADC crossJoin) — see
          // ivfAdcPlan; the CollapseProject barrier is unchanged
          .localCheckpoint(eager = false)
        // LUT: per query, the 1e-6-quantized distance to every (m, cl)
        // cell, folded into ONE map row — |Q|·k·M entries total. ADC is
        // then a broadcast crossJoin (|Q| rows) against the codes scan:
        // each output row sums M map lookups — exact integer math in
        // any order — replacing the (n·M)⋈LUT join + hash re-aggregate
        // with a single pass that never re-keys the corpus.
        // shipped as DRIVER math over the request-sized query rows
        // (round 16, the lutDriver convention): the former lutMap
        // expression form — k·M structs of dot-product trees per query
        // — charged every invocation ~1 s of driver planning/codegen
        requireAdcBatch(Similarity.NQueries, cb.length, nprobe = 1)
        import s.implicits._
        val lutPerQ = e.where(col("vec_id") < Similarity.NQueries)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().toSeq
          .map { case (qid, qv) => (qid, lutDriver(qv, cb)) }
          .toDF("qid", "lut")
        val a = codes.crossJoin(broadcast(lutPerQ))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            adcSum(col("codes"), col("lut")).as("adist2_e6"))
        val wr = Window.partitionBy("qid").orderBy(col("adist2_e6"), col("vec_id"))
        a.withColumn("rk", row_number().over(wr).cast("long"))
          .where(col("rk") <= Similarity.K)
          .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
            col("rk"), col("adist2_e6"))
          .transform(d => graft.Q.sorted(d, "query_id", "rk"))
      }
    },

    // e11: IVF-ADC — the full billion-vector retrieval shape (FAISS
    // IVFPQ): a coarse quantizer prunes the corpus to the query's nprobe
    // nearest clusters, and only those candidates are ranked by the
    // compressed-domain ADC distance. Composes the verified pieces —
    // e3's deterministic coarse assignment, e5's multi-probe, e8's
    // unrolled PQ coding, e10's integer LUT — so the oracle is the same
    // exact arithmetic end-to-end. (Here the coarse quantizer and the PQ
    // codebook share the per-label representative set; separately
    // trained codebooks drop in without changing the plan.)
    //
    // Scale: ONE codegen'd corpus pass emits (assignment, codes);
    // queries×nprobe LUT rows broadcast; the probe join's cluster
    // equality prunes each corpus row to the probes of its own cluster —
    // candidate volume is nprobe/k of the corpus per query instead of
    // e10's full crossJoin, and only candidates re-key for the top-K
    // window. This is the documented 100 TB path past e1's exact
    // quadratic tier.
    Q("e11_ivf_adc", ivfAdcOracleSql(Similarity.NProbeServe)) {
      (s, dir) => ivfAdcPlan(s, dir)
    },

    // e13: IVF-ADC served from the PERSISTED index — e11's retrieval with
    // the index-construction pass replaced by scans of the bucketed
    // artifacts (graft_ivfpq_codes / graft_ivfpq_cent). Queries arrive as
    // driver-side parameters (the serving contract: a handful of vectors
    // per request), so the plan contains NO embeddings scan at all — the
    // probe join hits the codes table on its bucket key and the LUT rides
    // a broadcast. Same oracle as e11: the DuckDB twin re-derives the
    // index from the raw vectors, so a stale or corrupted artifact is a
    // hash mismatch, not a silent wrong answer.
    Q("e13_index_serve", ivfAdcOracleSql(Similarity.NProbeServe)) {
      (s, dir) => indexServePlan(s, dir)
    },

    // e14b: RADIUS search served from the PERSISTED index (round-11
    // task 4 — the range analog of e13). e14 brute-scans the corpus per
    // query batch, the right baseline but a full scan per request; here
    // the probed-cluster set (<= NQueries x NProbe values, collected to
    // the driver — request-sized, the index-header budget) becomes an
    // explicit isin() on the artifact's BUCKET KEY, so the scan prunes
    // unprobed buckets at planning time (SelectedBucketsCount < 16,
    // PlanShapeSpec pins it): the batch-request analog of reading only
    // the probed inverted lists — unprobed lists are never read, not
    // merely filtered post-scan. Verification is EXACT — true cosines
    // against the raw vectors STORED IN the lists, so no ADC
    // approximation ever reaches the output. Semantics = e14 restricted
    // to the probed clusters (the standard IVF range-search contract:
    // recall bounded by nprobe, precision exact); the oracle re-derives
    // the index from the raw corpus, so artifact staleness is a hash
    // mismatch. The serve plan contains NO embeddings scan (PlanShapeSpec
    // pins it) — queries arrive as request input.
    Q("e14b_range_index", rangeIndexOracleSql) {
      (s, dir) => {
        import s.implicits._
        val n = corpusN(s, dir)
        val cent = ivfpqCentroids(s, dir)
        val vecs = ivfflatVecs(s, dir)
        // query vectors are REQUEST INPUT (the e13 convention): read once
        // outside the plan, shipped as a 5-row local relation
        val qRows = Portable.spread(Tables.embeddings(s, dir), "vec_id")
          .where(col("vec_id") < Similarity.NQueries)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().toSeq
        val q = qRows.toDF("qid", "qe")
        // probe selection per codebook arm: cosine over the label
        // representatives, d2 over the trained centroids (driver math —
        // queries and the index header are both request-sized)
        val qprobe =
          if (useTrainedArm(n))
            probeTrained(qRows.sortBy(_._1), collectCb(cent), Similarity.NProbe)
              .toDF("qid", "ccl")
          else q.crossJoin(broadcast(cent.select(col("cl").as("ccl"), col("ce"))))
            .withColumn("rn", row_number().over(Window.partitionBy("qid")
              .orderBy(Portable.cosine(col("qe"), col("ce")).desc, col("ccl"))))
            .where(col("rn") <= Similarity.NProbe)
            .select(col("qid"), col("ccl"))
        // (qid, probed cluster, query vector): NQueries·NProbe rows
        val qps = qprobe.join(q, "qid")
        // the probed clusters, collected (<= NQueries·NProbe values):
        // an isin() on the bucket key lets the scan SKIP unprobed
        // buckets entirely — without it the join reads every stored
        // vector row and only discards the rest post-scan
        val probedCls = qprobe.select(col("ccl")).distinct().collect().map(_.get(0))
        // SHUFFLE_HASH on the request side, NOT broadcast: the join on
        // the bucket key gives the scan an interesting partitioning, so
        // DisableUnnecessaryBucketedScan keeps the bucketed read and the
        // isin prunes to the probed lists (a broadcast join demands no
        // distribution, and Spark 4.1's rule then drops the bucketed
        // scan WITH its pruning — measured: every list read). This is
        // the route-queries-to-lists serve shape: the stored side moves
        // nothing (bucketing IS its exchange), only the request-sized
        // probe set shuffles.
        vecs.where(col("cl").isin(probedCls.toSeq: _*))
          .join(qps.hint("SHUFFLE_HASH"),
            col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
          .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
            Portable.cosine(col("qe"), col("embedding")).as("cos"))
          .where(col("cos") >= Similarity.RangeRadius)
          .select(col("query_id"), col("neighbor_id"), graft.Q.r6(col("cos")).as("cos"))
          .transform(d => graft.Q.sorted(d, "query_id", "neighbor_id"))
      }
    },

    // e12: the FULL Lloyd solver — e9's single training round iterated
    // under a convergence probe, the same step→solver completion
    // x_pagerank_full gave x_pagerank_step. Per-label seed, then
    // assign → re-estimate rounds; the loop exits early only on an
    // EXACT integer fixpoint of the (cluster, pos, n, qsum) statistics,
    // after which every further round reproduces the same frame — so
    // the early exit is bit-safe against the fixed-$KmFullIters-round
    // oracle chain at any SF. Ext9Spec pins the fixpoint property.
    //
    // Scale: per round, one broadcast of k·d centroid doubles, one
    // corpus pass for assignment (no shuffle), one hash agg whose
    // map-side partials bound the exchange at O(k·d·partitions) rows;
    // the probe reads ONE row. The corpus is the single checkpointed
    // data-sized artifact (the x_pagerank3 lesson).
    Q("e12_kmeans_full", {
      val iters = (1 to KmFullIters).map(kmIterSql).mkString(",\n")
      s"""WITH x AS (
         |  SELECT label, i AS pos,
         |         CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS qv
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r),
         |g0 AS (SELECT label AS cl, pos, count(*) AS n, CAST(sum(qv) AS DOUBLE) AS qsum
         |       FROM x GROUP BY 1, 2),
         |cent0 AS (SELECT cl, list(qsum / (1e6 * n) ORDER BY pos) AS ce
         |          FROM g0 GROUP BY cl),
         |$iters
         |SELECT cl AS cluster, pos, n, round(qsum / (1e6 * n), 6) AS centroid
         |FROM g$KmFullIters ORDER BY cluster, pos""".stripMargin
    }) {
      (s, dir) => {
        val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
        val (g, _, _) = kmeansConverged(e, KmFullIters)
        g.select(col("cl").as("cluster"), col("pos"), col("n"),
            graft.Q.r6(col("qsum") / (lit(1e6) * col("n"))).as("centroid"))
          .transform(d => graft.Q.sorted(d, "cluster", "pos"))
      }
    },

    // PCA top component by DISTRIBUTED POWER ITERATION — the whitening /
    // dimensionality-analysis primitive. Each of the fixed PcaIters
    // rounds is ONE linear pass: per row the scalar projection d = v·w
    // (sequential fold), per (row, pos) the contribution d·v[pos]
    // quantized to 1e-9 integers, then an exact map-side-combined BIGINT
    // sum per pos — O(dims·partitions) exchange rows, O(dims) driver
    // state (the kmeans centroid budget; at 1e10+ rows widen the sums to
    // DECIMAL(38,0)). Normalization runs on the driver over the EXACT
    // integer image, so w is bit-identical on both engines and any
    // shuffle order; the oracle replays the rounds as chained CTEs.
    // Output: every vector's projection onto the converged axis.
    Q("x_pca_power", {
      def iter(k: Int): String = {
        val dot = Portable.sqlDot("e.embedding", s"w${k - 1}.w")
        s"""t$k AS (SELECT e.embedding, $dot AS d FROM e CROSS JOIN w${k - 1}),
           |c$k AS (SELECT i AS pos,
           |          CAST(sum(CAST(round(d * CAST(embedding[i + 1] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS DOUBLE) AS s
           |        FROM t$k CROSS JOIN (SELECT unnest(range(0, $Dims)) AS i) r
           |        GROUP BY i),
           |n$k AS (SELECT list(s ORDER BY pos) AS ws FROM c$k),
           |w$k AS (SELECT CASE WHEN nrm = 0 THEN ws
           |               ELSE list_transform(ws, x -> x / nrm) END AS w
           |        FROM (SELECT ws, sqrt(list_reduce(array_concat([0.0],
           |                list_transform(ws, x -> x * x)), (a, b) -> a + b)) AS nrm
           |              FROM n$k))""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |w0 AS (SELECT list_transform(range(0, $Dims), i -> 0.125) AS w),
         |${(1 to PcaIters).map(iter).mkString(",\n")}
         |SELECT vec_id, round(${Portable.sqlDot("e.embedding", s"w$PcaIters.w")}, 6) AS score
         |FROM e CROSS JOIN w$PcaIters ORDER BY vec_id""".stripMargin
    }) {
      (s, dir) => {
        val e = Portable.spread(Tables.embeddings(s, dir), "vec_id")
          .select(col("vec_id"), col("embedding"))
        // 1/8 = 2^-3 exactly: the all-equal unit-free seed both engines
        // can state without any fp construction noise
        var w: Array[Double] = Array.fill(Dims)(0.125)
        for (_ <- 1 to PcaIters) {
          val wl = array(w.toSeq.map(lit): _*)
          val sums = e
            .select(dotD(col("embedding"), wl).as("d"), col("embedding"))
            .select(col("d"), posexplode(col("embedding")).as(Seq("pos", "v")))
            .select(col("pos"),
              round(col("d") * col("v").cast("double") * lit(1e9), 0).cast("long").as("q"))
            .groupBy("pos").agg(sum(col("q")).as("s"))
            .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble)
            .sortBy(_._1).map(_._2)
          val nrm = math.sqrt(sums.foldLeft(0.0)((a, x) => a + x * x))
          w = if (nrm == 0) sums else sums.map(_ / nrm)
        }
        graft.Q.norm(
          e.select(col("vec_id"),
            dotD(col("embedding"), array(w.toSeq.map(lit): _*)).as("score")),
          "vec_id")
      }
    })

  /** Power-iteration rounds for [[queries]]' `x_pca_power` (fixed, so the
    * oracle can replay them verbatim — the BpeRounds/KmFullIters twin). */
  val PcaIters = 3
}
