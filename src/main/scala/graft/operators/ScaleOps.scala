package graft.operators

import graft.{Det, StoredArtifact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns for skew and co-location (SURVEY §4 obligations).
  * These are the techniques the 100 TB layout leans on where AQE's
  * runtime skew handling isn't enough or a shuffle can be designed
  * away entirely; ScaleOpsSpec proves result-equivalence and the
  * intended plan shapes.
  */
object ScaleOps {

  /** Two-phase salted aggregation for skewed group keys: partial
    * aggregate on (key, salt) spreads a hot key over `nSalts`
    * reducers, final aggregate merges the partials. Correct for any
    * commutative re-aggregable pair (partial, merge).
    *
    * At 100 TB: a single hot key (null ids, default enums) otherwise
    * pins one reducer; salting bounds per-task input at
    * hot_key_rows / nSalts.
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], nSalts: Int,
                      partial: Seq[(Column, String)],
                      merge: Seq[(Column, String)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(keys.map(col) :+ spark_partition_id(): _*), lit(nSalts)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head._1.as(partial.head._2),
        partial.tail.map { case (c, n) => c.as(n) }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(merge.head._1.as(merge.head._2),
        merge.tail.map { case (c, n) => c.as(n) }: _*)
  }

  /** Bloom-filter semi-join pre-filter: build one Bloom sketch over the
    * build side's join keys (a single aggregated binary — kilobytes,
    * like `DataFrameStatFunctions.bloomFilter`), then drop probe rows
    * whose key cannot match BEFORE the join's exchange. False positives
    * survive the filter and are removed by the real join, so the
    * composed result is identical to the plain join — the Bloom only
    * cuts shuffle volume.
    *
    * The sketch stays IN the plan (ADVICE r7): the aggregated 1-row
    * build frame enters the filter as a scalar subquery — the form
    * `might_contain` requires for a non-constant sketch — so
    * construction is lazy: no driver action runs until the composed
    * query executes (the old `.head` form ran a full build-side job at
    * DataFrame-construction time and embedded the megabyte sketch as a
    * plan literal, which the plan dump had to elide).
    *
    * At 100 TB this is the hand-rolled form of Spark's runtime bloom
    * filter (`spark.sql.optimizer.runtime.bloomFilter.enabled`), for
    * when the build side is produced by graft logic the optimizer
    * can't see through (a deduped survivor set, a sampled partition):
    * a selective dim filter means most fact rows shuffle only to be
    * discarded at the join; the Bloom discards them right after the
    * scan, and the probe-side exchange carries only likely matches. */
  def bloomSemiFilter(probe: DataFrame, build: DataFrame,
                      probeKey: String, buildKey: String,
                      estItems: Long, nBits: Long): DataFrame = {
    val s = probe.sparkSession
    graft.functions.VectorExprs.register(s)
    val bf = build
      .agg(expr(s"graft_bloom_agg(xxhash64($buildKey), " +
        s"${estItems}L, ${nBits}L)").as("__graft_bf"))
    probe.filter(call_function("graft_bloom_contains",
      org.apache.spark.sql.GraftPlanBridge.scalarSubquery(bf),
      xxhash64(col(probeKey))))
  }

  /** Bucketed catalog twins of orders and lineitem for
    * `c_join_bucketed` — both bucketed (and bucket-sorted) on the join
    * key with the SAME bucket count ([[LlmOps.storeBuckets]]: conf
    * override or one bucket per core — the r7 IncScale lesson; a fixed
    * 8 under-parallelizes every later read on a large box), so the join
    * and the downstream key-grouped aggregation plan with ZERO
    * Exchange: the write-side shuffle happened once at bucket time and
    * every subsequent join/agg on the key reuses it (the DedupArtifacts
    * / AnnIndex store discipline applied to the plain TPC-H fact join).
    * Their value is the layout, which the session's bucket count
    * shapes, so each session rewrites them on first resolution
    * ([[StoredArtifact.PerSession]]). */
  private[graft] def bucketedJoinStore(s: SparkSession,
                                       d: String): (String, String) = {
    val p = StoredArtifact(s, d, "bkt", Seq("orders", "lineitem"),
        tables = Seq("_orders", "_lineitem"),
        reentry = StoredArtifact.PerSession) { prefix =>
      val n = LlmOps.storeBuckets(s)
      graft.sources.Layout.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        s"${prefix}_orders", "o_orderkey", nBuckets = n)
      graft.sources.Layout.writeBucketed(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_quantity", "l_extendedprice"),
        s"${prefix}_lineitem", "l_orderkey", nBuckets = n)
    }
    (s"${p}_orders", s"${p}_lineitem")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bucketed co-located fact join (§2 r13): orders ⋈ lineitem on the
    // orderkey with BOTH sides read from catalog tables bucketed on the
    // join key — the canonical 100 TB answer to the biggest shuffle in
    // any warehouse: bucket the fact tables ONCE at write time, and
    // every subsequent key join (and key-grouped aggregation, whose
    // ClusteredDistribution the bucket hash already satisfies) runs
    // with ZERO Exchange. ScaleOpsSpec pins exactly that plan: no
    // ShuffleExchange anywhere except the presentation sort's range
    // partition, and both scans carry the bucket spec. The oracle is
    // the PLAIN join on the raw parquet tables — bucketing must be
    // invisible in the result.
    "c_join_bucketed" -> { (s, d) =>
      val (to, tl) = bucketedJoinStore(s, d)
      s.table(to).join(s.table(tl),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(count(lit(1)).as("n_items"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderkey")
    },

    // Band (range) join WITHOUT a nested loop: bucket both sides by
    // floor(value/eps); any |diff| ≤ eps pair lives in adjacent
    // buckets, so an equi-join on bucket (b side exploded to its three
    // neighbors) + the exact band filter finds every pair. The oracle
    // is the NAIVE theta predicate — the hash-match proves the
    // bucketing algebra is exactly the band join. At 100 TB this is
    // the fact-fact interval-join prepass (one shuffle per side on
    // bucket, no BroadcastNestedLoop).
    "c_join_range_bucket" -> { (s, d) =>
      // eps sized so every fixture SF yields pairs (10-supplier sf0.001
      // has no gap under 10)
      val eps = 200.0
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_acctbal"))
      val a = sup
        .select(col("s_suppkey").as("a_id"), col("s_acctbal").as("a_bal"))
        .withColumn("bucket", floor(col("a_bal") / eps))
      val b = sup
        .select(col("s_suppkey").as("b_id"), col("s_acctbal").as("b_bal"))
        .withColumn("bucket", explode(array(
          floor(col("b_bal") / eps) - 1, floor(col("b_bal") / eps),
          floor(col("b_bal") / eps) + 1)))
      a.join(b, Seq("bucket"))
        .filter(col("a_id") < col("b_id") &&
          abs(col("a_bal") - col("b_bal")) <= eps)
        .select(col("a_id"), col("b_id"),
          (col("a_bal") - col("b_bal")).as("bal_diff"))
        .orderBy("a_id", "b_id")
    },

    // Ratio-band theta join WITHOUT a nested loop (r19, VERDICT r18
    // item 2) — the c_join_range_bucket trick applied to
    // c_join_theta_range's price-ratio band: p BETWEEN 0.05·b AND
    // 0.2·b is, in log space, ln(b) − ln(p) ∈ [ln 5, ln 20] — a
    // FIXED-width interval (width ln 4) even though the linear-domain
    // interval [5p, 20p] grows with p. Bucket both sides by
    // floor(ln(x)/ln 4); for any true pair the bucket offset is
    // provably in {1, 2, 3} (offset/width ∈ [1.161, 2.161], margins
    // ≫ double-rounding noise), so exploding the probe side to those
    // three bands + one hash equi-join on the band key + the EXACT
    // residual predicate finds every pair — the oracle is the naive
    // theta SQL, identical to c_join_theta_range's, and the
    // hash-match proves the decomposition. b ≤ 0 can't match (p > 0
    // forces b ≥ 5p > 0), so the log is total on the filtered side.
    // At 100 TB: one shuffle per side on the band key, no
    // BroadcastNestedLoop anywhere (ScaleOpsSpec pins the plan); band
    // cardinality tracks the value spread in decades — add a
    // secondary uniform sub-bucket (the salting discipline) if one
    // log-band dominates.
    "c_join_theta_band" -> { (s, d) =>
      val w = math.log(4.0) // band width = log-ratio width ln(0.2/0.05)
      val p = Tables.part(s, d)
        .filter(col("p_partkey") < 100)
        .select(col("p_partkey"), col("p_retailprice"))
        .withColumn("pb", floor(log(col("p_retailprice")) / w))
        .withColumn("band",
          explode(array(col("pb") + 1, col("pb") + 2, col("pb") + 3)))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_acctbal"))
        .filter(col("s_acctbal") > 0)
        .withColumn("band", floor(log(col("s_acctbal")) / w))
      p.join(sup, Seq("band"))
        .filter(col("p_retailprice").between(
          col("s_acctbal") * 0.05, col("s_acctbal") * 0.2))
        .select("s_suppkey", "p_partkey", "p_retailprice", "s_acctbal")
        .orderBy("s_suppkey", "p_partkey")
    },

    // Skew-salted fact⋈dim join: replicate the dim nSalts×, spread the
    // fact rows across replicas — result-identical to the plain join
    // (the oracle IS the plain join), with no single reducer owning a
    // hot key. Aggregated per segment to a stable projection.
    "c_join_skew_salted" -> { (s, d) =>
      val fact = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      saltedJoin(fact, dim, "o_custkey", nSalts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // Bloom pre-filtered selective join: a 2%-selective dim predicate
    // (urgent orders) would otherwise shuffle every lineitem row to
    // the join; the Bloom over the filtered orderkeys drops ~98% of
    // lineitem AT THE SCAN, and the shuffle_hash join (the honest
    // at-scale plan — no broadcast) removes the false positives. The
    // oracle is the PLAIN join: the hash-match proves the pre-filter
    // changes nothing but the plan.
    "c_join_bloom" -> { (s, d) =>
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice"))
      bloomSemiFilter(fact, dim, "l_orderkey", "o_orderkey",
          estItems = 1000000L, nBits = 8388608L)
        .join(dim.hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          Det.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    },

    // Top-k per group as a bounded-heap AGGREGATE (graft_topk, §2.Q):
    // the scale path for e_window_topk_per_group. The window twin
    // shuffles every order row and sorts each customer's whole group;
    // this plan's exchange carries at most k pairs per (map task ×
    // group) inside ObjectHashAggregate partial buffers, and no sort
    // exists anywhere. Same rows, same oracle SQL as the window twin —
    // the hash-match proves the aggregate IS the window semantics.
    "d_agg_topk_partial" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rn"),
          col("col.id").as("o_orderkey"), col("col.v").as("o_totalprice"))
        .orderBy("o_custkey", "rn")
    }
  )

  val oracles: Map[String, String] = Map(
    // the PLAIN join on the raw parquet tables — the bucket layout
    // must be invisible in the result
    "c_join_bucketed" ->
      s"""SELECT o_orderkey, o_totalprice, count(*) AS n_items,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty,
         |  ${Det.dsumSql("l_extendedprice")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderkey, o_totalprice
         |ORDER BY o_orderkey""".stripMargin,
    "c_join_range_bucket" ->
      """SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |  a.s_acctbal - b.s_acctbal AS bal_diff
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        | AND abs(a.s_acctbal - b.s_acctbal) <= 200.0
        |ORDER BY a_id, b_id""".stripMargin,
    // the NAIVE theta predicate — identical to c_join_theta_range's
    // oracle: the log-band decomposition must be invisible in the
    // result
    "c_join_theta_band" ->
      """SELECT s_suppkey, p_partkey, p_retailprice, s_acctbal
        |FROM part JOIN supplier
        |  ON p_retailprice BETWEEN s_acctbal * 0.05 AND s_acctbal * 0.2
        |WHERE p_partkey < 100
        |ORDER BY s_suppkey, p_partkey""".stripMargin,
    "c_join_skew_salted" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Det.dsumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    // the PLAIN selective join — no bloom anywhere: the pre-filter
    // must be invisible in the result
    "c_join_bloom" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  ${Det.dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // identical SQL to e_window_topk_per_group — the aggregate must
    // reproduce the window formulation row for row
    "d_agg_topk_partial" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  )

  /** Broadcast-salt join for a skewed fact⋈dim with hot fact keys:
    * replicate the dim side `nSalts`× and spread the fact side's rows
    * across the replicas, so one hot key no longer lands on a single
    * task. Result-identical to the plain join.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 nSalts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(col(key), spark_partition_id(), monotonically_increasing_id()),
        lit(nSalts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedFact.join(saltedDim,
        saltedFact(key) === saltedDim(key) &&
          saltedFact("__salt") === saltedDim("__salt"))
      .drop(saltedDim(key)).drop("__salt")
  }
}
