package graft

import org.apache.spark.sql.functions._

/** Round-8 wave: properties of the full PageRank solver
  * (ops/Basket.pagerankConverged) and the adaptive e1 dispatch that the
  * DuckDB hash oracle can't see — convergence behavior, mass
  * conservation, and tier agreement.
  */
class Ext8Spec extends SparkTestBase {

  private val S = 1000000000000L

  import spark.implicits._

  test("pagerankConverged: a regular graph hits the exact integer fixpoint in one round") {
    // directed 4-cycle: every vertex in/out-degree 1, n divides S, so the
    // uniform start vector IS the fixpoint — the convergence probe must
    // detect delta == 0 after the first round and stop paying supersteps
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val (rank, iters) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 10)
    assert(iters == 1, s"expected early exit at round 1, ran $iters")
    val rows = rank.orderBy("pk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L).map(pk => (pk, S / 4)))
  }

  test("pagerankConverged: dangling mass is redistributed, total mass conserved") {
    // u -> v with v a sink: without redistribution v's share leaks every
    // round (the documented x_pagerank_step simplification); with it the
    // total stays within n floor-units of S
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val nodes = Seq(1L, 2L).toDF("pk")
    val (rank, iters) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 3)
    assert(iters == 3) // no fixpoint this fast — the cap is what stops it
    val total = rank.agg(sum("r")).head().getLong(0)
    assert(total > S - 2 * 3 && total <= S,
      s"mass not conserved: $total vs $S (allow n floor-units per round)")
    // round-1 hand computation: r1(u) = 15e12/200 + 85*(0 + 5e11/2)/100,
    // r1(v) = 15e12/200 + 85*(5e11 + 5e11/2)/100 — checked once by hand,
    // the assertion here is the ordering (the sink accumulates more rank)
    val m = rank.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2L) > m(1L), s"sink should out-rank its source: $m")
  }

  test("pagerankConverged: early exit reproduces the fixed-iteration vector") {
    // the oracle-safety property: if the loop exits at round j < K on
    // delta == 0, running K rounds yields the SAME vector (integer
    // fixpoint) — this is what makes the convergence probe safe against
    // the fixed-K oracle chain at any SF
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val (early, it1) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 2)
    val (late, it2) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 8)
    assert(it1 == 1 && it2 == 1)
    val a = early.orderBy("pk").collect().map(_.getLong(1)).toSeq
    val b = late.orderBy("pk").collect().map(_.getLong(1)).toSeq
    assert(a == b)
  }

  test("x_pagerank_full: sinks exist in the directed co-purchase graph (non-vacuous redistribution)") {
    // the round-6 lesson (vacuous triangle oracle): assert the semantics
    // under test actually fire on the gate data — the u<v orientation
    // guarantees every component's max part id is a sink
    val basket = sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = basket.as("a")
      .join(basket.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val nodes = basket.select("pk").distinct()
    val sinks = nodes.join(edges.select("u").distinct(),
      nodes("pk") === col("u"), "left_anti").count()
    assert(sinks > 0, "no dangling vertices — the redistribution term would be vacuous")
  }

  test("pqPass: sharded argmin/argmax equals the single-projection unrolled form") {
    // 10 codewords, shard sizes 3 and 1 force the layered shard-reduce
    // path; 1024 is the production single-projection shape — all three
    // must agree bit-for-bit on every (cl, code, err) cell, including
    // the cross-shard (dist2, cl)/(cos DESC, cl) tie-breaks
    val dims = ext.Embeddings.Dims
    val rows = (0 until 30).map { i =>
      val emb = Array.tabulate(dims)(d => (((i * 31 + d * 7) % 17) - 8) / 8.0f)
      (i.toLong, i % 10, emb)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val cb = ext.Embeddings.codebook(e)
    def run(shard: Int) =
      ext.Embeddings.pqPass(e, cb, withErr = true, withAssign = true, shardSize = shard)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val single = run(1024)
    assert(single == run(3), "3-codeword shards diverge from unrolled")
    assert(single == run(1), "1-codeword shards diverge from unrolled")
  }

  test("adcTopK: broadcast-batched query slices reproduce e10 exactly") {
    // 5 queries at batchSize 2 → 3 batches; query independence means the
    // union of per-batch scoring joins must equal e10's single-broadcast
    // result row-for-row (same exact-integer distances, same ranks)
    val e = ext.Portable.spread(sources.Tables.embeddings(spark, sf), "vec_id")
    val queries = e.where(col("vec_id") < ext.Similarity.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val batched = ext.Embeddings.adcTopK(e, queries, ext.Similarity.K, batchSize = 2)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    val single = SparkEntry.queries("e10_adc")(spark, sf)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(batched == single)
  }

  test("adcTopK: query_id keeps the queries' own qid type (string, int)") {
    // the LUT rows are collected as Rows, so a string qid must not fail
    // and an int qid must not widen to bigint; neighbours and distances
    // are those of the same vectors queried under long qids
    val e = ext.Portable.spread(sources.Tables.embeddings(spark, sf), "vec_id")
    val picked = e.where(col("vec_id") < 3)
    def run(qid: org.apache.spark.sql.Column) = ext.Embeddings.adcTopK(e,
      picked.select(qid.as("qid"), col("embedding").as("qe")), ext.Similarity.K,
      batchSize = 2, excludeSelf = false)
    def rows(df: org.apache.spark.sql.DataFrame, id: Any => Long) =
      df.collect().map(r => (id(r.get(0)), r.getLong(1), r.getLong(2), r.get(3))).toSet
    val asString = run(concat(lit("q"), col("vec_id")))
    val asInt = run(col("vec_id").cast("int"))
    assert(asString.schema("query_id").dataType == org.apache.spark.sql.types.StringType)
    assert(asInt.schema("query_id").dataType == org.apache.spark.sql.types.IntegerType)
    val want = rows(run(col("vec_id")), _.asInstanceOf[Long])
    assert(want.nonEmpty)
    assert(rows(asString, q => q.asInstanceOf[String].stripPrefix("q").toLong) == want)
    assert(rows(asInt, _.asInstanceOf[Int].toLong) == want)
    // excludeSelf compares qid with vec_id: a string qid is refused up front
    intercept[IllegalArgumentException](ext.Embeddings.adcTopK(e,
      picked.select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("qe")), ext.Similarity.K))
  }

  test("e1 adaptive dispatch: banded tier is a subset of the exact tier at gate scale") {
    // below E1ExactMaxN the headline runs the exact grid join; the (8,2)
    // banded tier it switches to at scale must emit only true pairs
    // (precision 1 — recall is the documented trade)
    val exact = ext.Similarity.gridNearDup(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = ext.Similarity.srpNearDup(spark, sf, bandRows = 8, nBands = 2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact),
      s"banded tier emitted non-pairs: ${banded -- exact}")
  }
}
