package graft.tools

import graft.ext.{Dedup, Embeddings, Portable, Similarity}
import graft.sources.{Layout, Tables}
import graft.tools.OracleDump.jstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Out-of-band recall adjudication for the APPROXIMATE size-tier arms.
  * Past a size tier the oracle dispatches on the SAME constants as the
  * plan, so the in-band correctness gate adjudicates each approximation
  * against itself and cannot see recall drift versus the exact
  * reference. This tool measures that drift directly, on a corpus where
  * the exact arms are still computable:
  *
  *   - IVF-ADC (e11/e13): recall@K against the `e2_knn_brute` ground
  *     truth (computed once) and plan seconds, per nprobe. Floor
  *     [[IvfRecallFloor]] at nprobe >= [[Similarity.NProbeServe]]
  *     (round 15: corpus-sized codebooks measured 1.000 at every width
  *     at data/sf10, where RecallSpec's gate corpus can't reach).
  *   - IVF miss split, only when [[Embeddings.useTrainedArm]]: for every
  *     (query, true neighbor) pair, whether a miss is the COARSE PROBE
  *     (its list is not probed) or the ADC SHORTLIST (probed, but ranked
  *     past the serve path's [[Embeddings.trainedShortlist]]) — the two
  *     dials (CoarseKDiv / RerankFracDiv) fix different failures.
  *   - winnow pair tier: |winnowPairs ∩ exact| / |exact| (exact = the
  *     uncapped counting join, the d4 reference shape); floor
  *     [[WinnowRecallFloor]] (97.3% measured at data/sf10, round 15).
  *   - d6 large cap: |d6@DfCapLarge ∩ d6@DfCap| / |d6@DfCap| (at the gate
  *     SFs max df < DfCap, so the cap-50 arm IS the uncapped set); floor
  *     [[D6CapRecallFloor]] (0.9766 measured at data/sf10, round 16).
  *
  * Both pair arms end in the exact full-shingle verify, so their pairs
  * are a SUBSET of the exact sets: precision is 1 by construction and
  * recall is the whole trade. The report prints one JSON line, saying
  * which arms the corpus actually dispatches onto, and the run exits
  * non-zero on any floor breach.
  *
  * Run: `sbt "runMain graft.tools.Recall [dir]"` (default data/sf10 —
  * ~2M docs and 200k vectors: every approximate arm fires there AND the
  * exact counting join still fits local scratch).
  */
object Recall {
  val IvfRecallFloor = 0.85
  val WinnowRecallFloor = 0.95
  val D6CapRecallFloor = 0.95
  val NProbes = Seq(2, 4, 6)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("data/sf10")
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, dir)
    import spark.implicits._
    val breaches = Seq.newBuilder[String]

    def pairSet(d: DataFrame, a: String, b: String): Set[(Long, Long)] =
      d.select(col(a).cast("long"), col(b).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    /** (f's result, its seconds); then drops the caches f built, so no
      * later arm reads them. */
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (r, sec)
    }

    // ---- IVF-ADC recall per nprobe vs the brute-force truth ----------
    val truth = pairSet(graft.SparkEntry.queries("e2_knn_brute")(spark, dir),
      "query_id", "neighbor_id")
    require(truth.nonEmpty, s"no brute-force neighbors at $dir")
    val ivf = NProbes.map { np =>
      val (got, sec) = timed(pairSet(Embeddings.ivfAdcPlan(spark, dir, np),
        "query_id", "neighbor_id"))
      val hits = (got & truth).size
      val recall = hits.toDouble / truth.size
      println(f"[recall] $dir nprobe=$np recall@k=$recall%.3f " +
        f"($hits/${truth.size}) plan_sec=$sec%.1f")
      if (np >= Similarity.NProbeServe && recall < IvfRecallFloor)
        breaches += f"IVF recall $recall%.3f < $IvfRecallFloor at nprobe=$np"
      s"""{"nprobe":$np,"recall":$recall,"hits":$hits,"plan_sec":$sec}"""
    }

    // ---- trained-arm miss split: coarse probe vs ADC shortlist -------
    val nVec = Layout.rowCount(spark, s"$dir/embeddings.parquet")
    val trained = Embeddings.useTrainedArm(nVec)
    val split = if (!trained) Nil else {
      val e = Portable.spread(Tables.embeddings(spark, dir), "vec_id")
      val (ccb, pcb, _) = Embeddings.codebooks(e, nVec)
      val codes = Embeddings.trainedCodesPass(e, ccb, pcb).cache()
      val qRows = e.where(col("vec_id") < Similarity.NQueries)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      val luts = qRows.map { case (q, v) => q -> Embeddings.lutDriver(v, pcb) }.toMap
      val nbrs = truth.toSeq.map(_._2).distinct
      val nbrCl = codes.where(col("vec_id").isin(nbrs: _*))
        .select(col("vec_id"), col("cl"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = NProbes.map { np =>
        val probes = Embeddings.probeTrained(qRows, ccb, np)
        val probed = probes.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
        val inProbe = truth.filter { case (q, nb) => probed(q).contains(nbrCl(nb)) }
        // ADC rank of each true neighbor among its query's probed
        // candidates, ordered as the serve path orders them
        val qps = probes.map { case (q, cl) => (q, cl, luts(q)) }.toDF("qid", "ccl", "lut")
        val ranks = codes.join(broadcast(qps),
            col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            Embeddings.adcSum(col("codes"), col("lut")).as("ad"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ad"), col("vec_id"))))
          .where(col("vec_id").isin(nbrs: _*))
          .select(col("qid"), col("vec_id"), col("rk"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
        val shortlist = Embeddings.trainedShortlist(nVec, ccb.length, np)
        val inShort = inProbe.count(p => ranks.get(p).exists(_ <= shortlist))
        println(s"[recall] $dir nprobe=$np shortlist=$shortlist " +
          s"coarse_hit=${inProbe.size}/${truth.size} " +
          s"adc_in_shortlist=$inShort/${inProbe.size}")
        s"""{"nprobe":$np,"shortlist":$shortlist,"coarse_hit":${inProbe.size},""" +
          s""""adc_in_shortlist":$inShort}"""
      }
      codes.unpersist()
      rows
    }

    // ---- pair tiers: winnow gate vs exact, d6 large cap vs DfCap -----
    val nDocs = Layout.rowCount(spark, s"$dir/documents.parquet")
    val (exact, exactSec) = timed(pairSet(
      Dedup.countingPairs(spark, dir, materialize = true), "doc_a", "doc_b"))
    require(exact.nonEmpty, s"no exact pairs at $dir — the pair check needs near-dups")
    val (winnow, winnowSec) = timed(pairSet(Dedup.winnowPairs(spark, dir), "doc_a", "doc_b"))
    val wRecall = (winnow & exact).size.toDouble / exact.size
    println(f"[recall] $dir winnow_tier recall=$wRecall%.4f " +
      f"(${(winnow & exact).size}/${exact.size}; winnow-only=${(winnow -- exact).size}) " +
      f"exact_sec=$exactSec%.1f winnow_sec=$winnowSec%.1f")
    if (wRecall < WinnowRecallFloor)
      breaches += f"winnow pair recall $wRecall%.4f < $WinnowRecallFloor"
    val (d6Ref, _) = timed(pairSet(
      Dedup.d6PairsAtCap(spark, dir, Dedup.DfCap), "doc_a", "doc_b"))
    val (d6Cap, _) = timed(pairSet(
      Dedup.d6PairsAtCap(spark, dir, Dedup.DfCapLarge), "doc_a", "doc_b"))
    val cRecall =
      if (d6Ref.isEmpty) 1.0 else (d6Cap & d6Ref).size.toDouble / d6Ref.size
    println(f"[recall] $dir d6_cap${Dedup.DfCapLarge} recall=$cRecall%.4f " +
      f"(${(d6Cap & d6Ref).size}/${d6Ref.size})")
    if (cRecall < D6CapRecallFloor)
      breaches += f"d6 capped-gate recall $cRecall%.4f < $D6CapRecallFloor"

    val failed = breaches.result()
    val splitJson = if (trained) split.mkString("[", ",", "]") else "null"
    println(s"""{"dir":${jstr(dir)},"n_vectors":$nVec,"trained_arm":$trained,""" +
      s""""ivf":${ivf.mkString("[", ",", "]")},"miss_split":$splitJson,""" +
      s""""n_docs":$nDocs,"pair_gate_arm":${nDocs > Dedup.PairGateMinDocs},""" +
      s""""winnow_recall":$wRecall,"d6_cap_recall":$cRecall,""" +
      s""""exact_pairs":${exact.size},"winnow_pairs":${winnow.size},""" +
      s""""d6_ref_pairs":${d6Ref.size},"d6_cap_pairs":${d6Cap.size},""" +
      s""""breaches":${failed.map(jstr).mkString("[", ",", "]")}}""")
    spark.stop()
    if (failed.nonEmpty) sys.error(s"recall floor breached at $dir: ${failed.mkString("; ")}")
  }
}
