package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthesizes larger scale factors from an existing testdata directory by
  * replicating every table `factor` times with disjoint key spaces — the
  * sf1 scale-proof rung (VERDICT round-2, next-round item 1: "one order of
  * magnitude of measured scaling validates or falsifies every
  * extrapolated scale claim").
  *
  * Replication is designed so the WORKLOAD scales linearly, matching how
  * real corpora grow, instead of degenerating into a duplicate-detection
  * stress test:
  *
  *   - `events`: keys shift per replica; timestamps shift by the table's
  *     whole-minute span, so each replica appends another contiguous block
  *     of history. `user_id` shifts by a multiple of 3, preserving the
  *     `symbols[user_id % 3]` mapping (sources/Bars.scala) — same 3
  *     symbols, 10x the bars per symbol: the "more history" axis.
  *   - TPC-H tables: every FK edge (orders->customer, lineitem->orders/
  *     part/supplier) shifts by the same per-entity constant, so join
  *     selectivity and fan-out are exactly preserved; nation/region stay
  *     fixed (dims every replica shares, as in real star schemas).
  *   - `documents`: every token gets a per-replica suffix for r>0, making
  *     shingle/token sets DISJOINT across replicas. Near-dup structure
  *     within a replica is identical to the original, and no cross-replica
  *     candidate pairs exist — so LSH/index candidate counts grow 10x, not
  *     ~100x (10 mutually-similar copies of each doc would be quadratic in
  *     the band buckets, a different workload than "10x more documents").
  *   - `embeddings`: vectors rotate by r positions. A permutation applied
  *     to BOTH sides of a dot product preserves it bit-for-bit, so every
  *     within-replica similarity/kNN/centroid result replicates exactly,
  *     while cross-replica pairs decorrelate.
  *
  * Output: one plain parquet FILE per table (`dst/<name>.parquet`), the
  * same layout the driver's testdata uses, so `Tables`, `Verify`, `Bench`
  * and the DuckDB oracle harness all work unchanged at the new scale.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/data/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10

    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, src)

    Files.createDirectories(Paths.get(dst))

    def reps(df: DataFrame): DataFrame =
      df.withColumn("r", explode(sequence(lit(0L), lit(factor - 1L))))

    def shift(c: String, by: Long): Column = (col(c) + col("r") * lit(by)).as(c)

    // Shift strides are derived from the SOURCE key spans, never
    // constants. The first cut shifted by fixed multipliers (doc_id +
    // r·1e7, orderkey + r·1e9, …), which SILENTLY COLLIDES when ScaleUp
    // output is fed back in: chaining x10 twice gives id + (r1+r2)·C,
    // and distinct (r1, r2) pairs with equal sums alias — the original
    // data/sf10 carried 500k document rows over 95k distinct doc_ids,
    // merged cross-replica baskets/users, and a divide-by-zero in the
    // jaccard gate was the first visible symptom. A span-derived stride
    // makes replica key ranges disjoint REGARDLESS of what the source
    // looks like, so composition is safe for every keyed table.
    def keySpan(roundTo: Long, cols: (DataFrame, String)*): Long = {
      val m = cols.map { case (df, c) =>
        df.agg(max(col(c).cast("long"))).first().getLong(0)
      }.max + 1L
      ((m + roundTo - 1) / roundTo) * roundTo
    }

    /** LOUD post-replication uniqueness guard for primary-entity keys —
      * the invariant whose silent violation corrupted the first sf10. */
    def requireUnique(name: String, df: DataFrame, key: String): DataFrame = {
      val Array(n, nd) = df.agg(count(lit(1)), countDistinct(col(key)))
        .first().toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == nd,
        s"ScaleUp produced colliding $key in $name: $n rows, $nd distinct — " +
          "replica key ranges overlap (stride bug or corrupt source)")
      df
    }

    // events: whole-minute time shift keeps re-bar minute boundaries
    // aligned across replicas (each replica is a later block of history)
    val ev = Tables.events(spark, src)
    val li = Tables.lineitem(spark, src)
    val ord = Tables.orders(spark, src)
    val cust = Tables.customer(spark, src)
    val sup = Tables.supplier(spark, src)
    val pt = Tables.part(spark, src)
    val docs = Tables.documents(spark, src)

    val eventIdSpan = keySpan(1, (ev, "event_id"))
    // multiple of 3: preserves symbolFor(user_id % 3)
    val userSpan = keySpan(3, (ev, "user_id"))
    // FK domains span ALL tables sharing the key, so every edge shifts
    // by the same stride and join fan-out is exactly preserved
    val orderkeySpan = keySpan(1, (li, "l_orderkey"), (ord, "o_orderkey"))
    val partkeySpan = keySpan(1, (li, "l_partkey"), (pt, "p_partkey"))
    val suppkeySpan = keySpan(1, (li, "l_suppkey"), (sup, "s_suppkey"))
    val custkeySpan = keySpan(1, (ord, "o_custkey"), (cust, "c_custkey"))
    val docSpan = keySpan(1, (docs, "doc_id"))

    val Array(spanMin) = ev
      .agg((floor((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))) / 60) + 2).cast("long"))
      .collect().map(_.getLong(0))
    write(dst, "events", requireUnique("events", reps(ev).select(
      shift("event_id", eventIdSpan),
      expr(s"timestampadd(MINUTE, CAST(r * $spanMin AS INT), ts)").as("ts"),
      shift("user_id", userSpan),
      col("event_type"), col("value"), col("props")), "event_id"))

    write(dst, "lineitem", reps(li).select(
      shift("l_orderkey", orderkeySpan), shift("l_partkey", partkeySpan),
      shift("l_suppkey", suppkeySpan), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    write(dst, "orders", requireUnique("orders", reps(ord).select(
      shift("o_orderkey", orderkeySpan), shift("o_custkey", custkeySpan),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "o_orderkey"))

    write(dst, "customer", requireUnique("customer", reps(cust).select(
      shift("c_custkey", custkeySpan), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), "c_custkey"))

    write(dst, "supplier", requireUnique("supplier", reps(sup).select(
      shift("s_suppkey", suppkeySpan), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), "s_suppkey"))

    write(dst, "part", requireUnique("part", reps(pt).select(
      shift("p_partkey", partkeySpan), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "p_partkey"))

    // shared dims: copied unscaled
    write(dst, "nation", Tables.nation(spark, src))
    write(dst, "region", Tables.region(spark, src))

    // documents: per-replica token suffix -> cross-replica shingle sets
    // disjoint; n_chars re-derived so quality features stay consistent
    val newText = when(col("r") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("~"), col("r").cast("string"))), " "))
    write(dst, "documents", requireUnique("documents", reps(docs).select(
      shift("doc_id", docSpan), newText.as("text"), col("lang"),
      col("source"), length(newText).cast("long").as("n_chars")), "doc_id"))

    // embeddings: rotate by r mod dim (dot-product-preserving
    // permutation; rotating by more than the dimension made slice()
    // throw at factor 100), and negate every element when r div dim is
    // odd — negating BOTH sides of a dot product also preserves it, so
    // within-replica similarity/kNN/centroid structure still replicates
    // exactly while no two replicas share the (rotation, sign) pair for
    // any factor <= 2*dim (128 here): no cross-replica exact duplicates.
    val rotated = expr(
      "concat(slice(embedding, CAST(pmod(r, size(embedding)) AS INT) + 1, " +
        "size(embedding) - CAST(pmod(r, size(embedding)) AS INT)), " +
        "slice(embedding, 1, CAST(pmod(r, size(embedding)) AS INT)))")
    // NOTE on composition: vec_id strides are span-derived like every
    // other key, but the (rotation, sign) decorrelation argument holds
    // only for a SINGLE application with factor <= 2*dim — chained runs
    // alias rotations for equal r-sums. Scale embeddings in one shot
    // from the base SF (the guard below still catches the id half).
    val emb = Tables.embeddings(spark, src)
    val vecSpan = keySpan(1, (emb, "vec_id"))
    write(dst, "embeddings", requireUnique("embeddings", reps(emb).select(
      shift("vec_id", vecSpan),
      when(expr("(r div size(embedding)) % 2 = 1"),
        expr("transform(" +
          "concat(slice(embedding, CAST(pmod(r, size(embedding)) AS INT) + 1, " +
            "size(embedding) - CAST(pmod(r, size(embedding)) AS INT)), " +
            "slice(embedding, 1, CAST(pmod(r, size(embedding)) AS INT)))" +
          ", x -> -x)"))
        .otherwise(rotated).as("embedding"),
      col("label")), "vec_id"))

    println(s"""{"scaled": "$src -> $dst", "factor": $factor}""")
    spark.stop()
  }

  /** Writes `df` as the single plain file `dst/<name>.parquet` (the
    * testdata layout DuckDB reads directly), timestamps egressed
    * as naive int64 µs like the testdata itself. Single-file output
    * stays scan-parallel ONLY with many row groups — a first cut wrote
    * one giant row group per file and every events-family query ran its
    * map side on one core (10-30x at sf1 instead of ~linear) — so the
    * writer caps row groups at [[RowGroupBytes]].
    */
  private val RowGroupBytes = 1L << 20

  private def write(dst: String, name: String, df: DataFrame): Unit = {
    val tmp = Paths.get(dst, s".tmp_$name")
    graft.Verify.egress(df).coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no parquet part for $name"))
    Files.move(part, Paths.get(dst, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteRec(tmp)
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(deleteRec(_))
    Files.deleteIfExists(p)
  }
}
